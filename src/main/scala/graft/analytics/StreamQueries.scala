package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.Tables
import graft.streaming.EventStreams

/** Batch equivalents of the streaming transforms, oracle-checked — the
  * same code paths EventStreams runs under readStream. */
object StreamQueries {

  // every streamed-result memo, by the registered query it serves
  private val memos =
    scala.collection.concurrent.TrieMap[String, scala.collection.concurrent.TrieMap[String, String]]()

  /** A per-dir memo for `query`'s streamed result, registered so
    * [[CachedStreamQueries]] lists it and [[resetStreamCaches]] clears it. */
  private def memo(query: String) =
    memos.getOrElseUpdate(query, scala.collection.concurrent.TrieMap[String, String]())

  /** st1 — tumbling hourly window aggregate (epoch-aligned, so DuckDB
    * date_trunc('hour') is the exact oracle). `value` is pre-cast to
    * DECIMAL so the transform's sum is order-independent; the
    * streaming path sums doubles, semantics unchanged. */
  def hourlyWindow(spark: SparkSession, dir: String): DataFrame =
    EventStreams.hourlyTypeCounts(
      Tables.events(spark, dir)
        .withColumn("value", col("value").cast(DecimalType(18, 2))))
      .select(col("hour_start"), col("event_type"), col("n_events"),
        round(col("sum_value"), 2).cast("double").as("sum_value"))
      .orderBy(col("hour_start"), col("event_type"))

  /** st10 — hopping-window face (EventStreams.hoppingTypeCounts), the
    * sliding sibling of st1: same transform under readStream (proven
    * stream ≡ batch in StreamingSpec), same DECIMAL pre-cast, and the
    * w16 oracle replays it verbatim (the st6/st8 shared-oracle
    * pattern). */
  def hoppingWindow(spark: SparkSession, dir: String): DataFrame =
    EventStreams.hoppingTypeCounts(
      Tables.events(spark, dir)
        .withColumn("value", col("value").cast(DecimalType(18, 2))))
      .select(col("w_start"), col("w_end"), col("event_type"),
        col("n_events"),
        round(col("sum_value"), 2).cast("double").as("sum_value"))
      .orderBy(col("w_start"), col("event_type"))

  /** st4 — STREAMING SemDeDup (EventStreams.semanticDedupStream) run
    * as a GENUINE stream, not a batch face: the embeddings table
    * arrives as one AvailableNow micro-batch, the centroid quantizer
    * freezes on it (balanced √n rule — exactly the batch operator's
    * seeds), and the incremental path dedups the batch against the
    * empty store, dropping exactly what `semanticDedupBalanced` drops.
    * The d11-shaped SQL oracle therefore replays the stream's
    * survivors bit-for-bit — the streaming code path itself is
    * oracle-gated, not just spec'd. Fresh temp store/checkpoint per
    * call; the result is a plain batch read of the survivor sink. */
  def streamSemanticDedup(spark: SparkSession, dir: String): DataFrame = {
    val survivors = streamedSurvivors.getOrElseUpdate(dir, {
      val tmp = java.nio.file.Files.createTempDirectory("graft_st4_").toString
      // stage the table as a DIRECTORY source: FileStreamSource rejects
      // a single-file basePath (the sf0.001 layout), and staging also
      // pins the stream's input to this call's snapshot
      Tables.embeddings(spark, dir).write.parquet(s"$tmp/src")
      val schema = spark.read.parquet(s"$tmp/src").schema
      // maintainEvery = 1: the single AvailableNow batch runs the
      // maintenance slot too, so the oracle gates THROUGH the fold of
      // the survivor log + assignment buckets (the r14 st18-st21 recipe)
      EventStreams.semanticDedupStream(
        spark.readStream.schema(schema).parquet(s"$tmp/src"),
        "vec_id", "embedding", s"$tmp/store", s"$tmp/survivors",
        s"$tmp/cp", tau = 0.45, maintainEvery = 1).awaitTermination()
      s"$tmp/survivors"
    })
    spark.read.parquet(survivors)
      .select(col("vec_id"), col("cluster_id"),
        graft.functions.Rounding.exactRound(col("centroid_sim"), 6)
          .as("centroid_sim"))
      .orderBy(col("vec_id"))
  }

  // one stream run per (process, sf dir): plan-shape tests and repeat
  // bench iterations reread the survivor sink instead of re-running
  // the stream (same pattern as the bucketed-table j9 exemplar)
  private val streamedSurvivors = memo("st4_stream_semdedup")

  /** st5 — STREAMING MinHash near-dup dedup
    * (EventStreams.incrementalDedupStream) run as a GENUINE stream,
    * st4's trick applied to the MinHash family: the documents table
    * arrives as one AvailableNow micro-batch, the signature store
    * bootstraps empty, and the incremental band join therefore finds
    * exactly the within-batch verified pairs — the d2 batch operator's
    * result — so the d2-shaped brute-force Jaccard oracle replays the
    * stream's pair sink bit-for-bit. Fresh temp store/checkpoint per
    * call; the result is a plain batch read of the pair sink. */
  def streamMinhashDedup(spark: SparkSession, dir: String): DataFrame = {
    val pairs = streamedPairs.getOrElseUpdate(dir, {
      val tmp = java.nio.file.Files.createTempDirectory("graft_st5_").toString
      Tables.documents(spark, dir).select(col("doc_id"), col("text"))
        .write.parquet(s"$tmp/src")
      val schema = spark.read.parquet(s"$tmp/src").schema
      EventStreams.incrementalDedupStream(
        spark.readStream.schema(schema).parquet(s"$tmp/src"),
        "doc_id", "text", s"$tmp/store", s"$tmp/pairs",
        s"$tmp/cp", threshold = 0.8).awaitTermination()
      s"$tmp/pairs"
    })
    spark.read.parquet(pairs)
      .select(col("id_a"), col("id_b"),
        graft.functions.Rounding.exactRound(col("jaccard"), 4).as("jaccard"))
      .orderBy(col("id_a"), col("id_b"))
  }

  private val streamedPairs = memo("st5_stream_minhash")

  /** st24 — STREAMING set-similarity join
    * (EventStreams.setSimJoinStream), completing the PPJoin family's
    * batch (j11) + incremental (j11b/j11c) + streaming triple: the
    * documents table arrives as TWO micro-batches
    * (maxFilesPerTrigger = 1), batch 1 prefix-joins against the empty
    * pinned store and finds its within-batch pairs, batch 2 against
    * batch 1's appended token rows — every pair of the corpus is
    * found when its later doc arrives, so the drained pair sink must
    * hash-match j11's brute-force oracle VERBATIM. maintainEvery = 1:
    * both flat stores fold inside the gate (the pin survives the
    * sidecar-carrying swap). */
  def streamSetSimJoin(spark: SparkSession, dir: String): DataFrame = {
    val pairs = streamedSetSimPairs.getOrElseUpdate(dir, {
      val tmp = java.nio.file.Files.createTempDirectory("graft_st24_").toString
      val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
      docs.filter(col("doc_id") < 250).coalesce(1)
        .write.parquet(s"$tmp/src/a=1")
      docs.filter(col("doc_id") >= 250).coalesce(1)
        .write.mode("append").parquet(s"$tmp/src/a=2")
      val schema = spark.read.parquet(s"$tmp/src/a=1").schema
      EventStreams.setSimJoinStream(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
          .parquet(s"$tmp/src/*"),
        "doc_id", "text", s"$tmp/store", s"$tmp/pairs", s"$tmp/cp",
        threshold = 0.7, maintainEvery = 1).awaitTermination()
      s"$tmp/pairs"
    })
    spark.read.parquet(pairs)
      .select(col("id_a"), col("id_b"),
        graft.functions.Rounding.exactRound(col("jaccard"), 4).as("jaccard"))
      .orderBy(col("id_a"), col("id_b"))
  }

  private val streamedSetSimPairs = memo("st24_stream_setsim")

  /** st25 — STREAMING fuzzy (edit-distance ≤ 1) join
    * (EventStreams.fuzzyJoinStream), completing the
    * deletion-neighborhood family's triple (j10 batch /
    * deltaEditDistancePairs incremental / this): the customer table
    * arrives as TWO micro-batches, each probing the pinned hood index
    * so-far and appending its own hood rows — cross-batch pairs
    * (including equal names, the adoption path) surface when the
    * later rep arrives, and the drained normalized pair sink must
    * hash-match j10's quadratic all-pairs oracle VERBATIM.
    * maintainEvery = 1 folds the index + pair log inside the gate. */
  def streamFuzzyJoin(spark: SparkSession, dir: String): DataFrame = {
    val pairs = streamedFuzzyPairs.getOrElseUpdate(dir, {
      val tmp = java.nio.file.Files.createTempDirectory("graft_st25_").toString
      val c = Tables.customer(spark, dir)
        .select(col("c_custkey"), col("c_name"))
      c.filter(col("c_custkey") % 2 === 0).coalesce(1)
        .write.parquet(s"$tmp/src/a=1")
      c.filter(col("c_custkey") % 2 === 1).coalesce(1)
        .write.mode("append").parquet(s"$tmp/src/a=2")
      val schema = spark.read.parquet(s"$tmp/src/a=1").schema
      EventStreams.fuzzyJoinStream(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
          .parquet(s"$tmp/src/*"),
        "c_custkey", "c_name", s"$tmp/index", s"$tmp/pairs", s"$tmp/cp",
        maxDist = 1, maintainEvery = 1).awaitTermination()
      s"$tmp/pairs"
    })
    spark.read.parquet(pairs)
      .select(col("id_a"), col("id_b"), col("dist").cast("long").as("dist"))
      .orderBy(col("id_a"), col("id_b"))
  }

  private val streamedFuzzyPairs = memo("st25_stream_fuzzy")

  /** st26 — STREAMING dedup WITH TAKEDOWN
    * (EventStreams.dedupWithTakedownStream): the r16 deletion verb as
    * a stream-native op. The documents table arrives as two ingest
    * micro-batches (the st24 split), then a THIRD batch carries
    * `del` ops for every doc_id % 10 == 3 — the takedown rewrites
    * exactly the deleted ids' signature buckets and the hit pair-log
    * buckets from inside the owning foreachBatch. The drained pair
    * sink must hash-match the brute-force oracle over the SURVIVING
    * docs verbatim (the same corpus-minus-deleted oracle del1/del2
    * gate on): cross-batch pairs that formed before the delete and
    * name a deleted doc are REMOVED, pairs among survivors are all
    * present. maintainEvery = 1 folds both stores inside the gate, so
    * the oracle also gates delete-then-fold. Batch order is pinned by
    * mtime (the scd2 staging discipline) — deletes must arrive last. */
  def streamDedupTakedown(spark: SparkSession, dir: String): DataFrame = {
    val pairs = streamedTakedownPairs.getOrElseUpdate(dir, {
      val tmp = java.nio.file.Files.createTempDirectory("graft_st26_").toString
      val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
      docs.filter(col("doc_id") < 250).withColumn("__op", lit("add"))
        .coalesce(1).write.parquet(s"$tmp/src/a=1")
      docs.filter(col("doc_id") >= 250).withColumn("__op", lit("add"))
        .coalesce(1).write.mode("append").parquet(s"$tmp/src/a=2")
      docs.filter(col("doc_id") % 10 === 3)
        .select(col("doc_id"), lit("").as("text"), lit("del").as("__op"))
        .coalesce(1).write.mode("append").parquet(s"$tmp/src/a=3")
      // pin mtimes so file order = stage order under maxFilesPerTrigger
      val base = System.currentTimeMillis() - 600000L
      for (n <- 1 to 3) {
        val walk = java.nio.file.Files.walk(
          java.nio.file.Paths.get(s"$tmp/src/a=$n"))
        try {
          import scala.jdk.CollectionConverters._
          walk.iterator().asScala
            .filter(java.nio.file.Files.isRegularFile(_))
            .foreach(f => java.nio.file.Files.setLastModifiedTime(f,
              java.nio.file.attribute.FileTime.fromMillis(base + n * 60000L)))
        } finally walk.close()
      }
      val schema = spark.read.parquet(s"$tmp/src/a=1").schema
      EventStreams.dedupWithTakedownStream(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
          .parquet(s"$tmp/src/*"),
        "doc_id", "text", "__op", s"$tmp/store", s"$tmp/pairs", s"$tmp/cp",
        threshold = 0.8, maintainEvery = 1).awaitTermination()
      s"$tmp/pairs"
    })
    spark.read.parquet(pairs)
      .select(col("id_a"), col("id_b"),
        graft.functions.Rounding.exactRound(col("jaccard"), 4).as("jaccard"))
      .orderBy(col("id_a"), col("id_b"))
  }

  private val streamedTakedownPairs = memo("st26_stream_takedown")

  /** st6 — STREAMING snapshot-CDC (EventStreams.snapshotCdcStream):
    * yesterday's customer table seeds the store; the derived "today"
    * full dump (cdc1's exact derivation) arrives as one AvailableNow
    * micro-batch; the emitted op log must hash-match the batch cdc1
    * oracle — proving the streaming face computes the identical diff
    * and leaves the store at the new snapshot. */
  def streamSnapshotCdc(spark: SparkSession, dir: String): DataFrame = {
    val ops = streamedCdcOps.getOrElseUpdate(dir, {
      val tmp = java.nio.file.Files.createTempDirectory("graft_st6_").toString
      val c = Tables.customer(spark, dir)
      c.write.parquet(s"$tmp/store")
      CoreQueries.derivedNewSnapshot(c).write.parquet(s"$tmp/snap")
      val schema = spark.read.parquet(s"$tmp/snap").schema
      // maintainEvery = 1: the op-log fold runs inside the gate, so
      // the oracle reads a COMPACTED log (row-preserving by spec)
      EventStreams.snapshotCdcStream(
        spark.readStream.schema(schema).parquet(s"$tmp/snap"),
        keyCols = Seq("c_custkey"),
        valueCols = Seq("c_name", "c_acctbal", "c_mktsegment"),
        storePath = s"$tmp/store", opsPath = s"$tmp/ops",
        checkpoint = s"$tmp/cp", maintainEvery = 1).awaitTermination()
      s"$tmp/ops"
    })
    spark.read.parquet(ops)
      .select(col("c_custkey"), col("op"))
      .orderBy(col("c_custkey"))
  }

  /** st7 — STREAMING Misra-Gries heavy hitters: the q19 sketch
    * ([[graft.functions.MisraGries]]) held in the streaming
    * aggregation STATE STORE and merged micro-batch by micro-batch —
    * the orders table arrives as 8 one-file micro-batches
    * (maxFilesPerTrigger = 1), so the final complete-mode state is the
    * product of 7 real cross-batch sketch merges, not one batch agg.
    * The status domain (3 values) sits under k = 8 where MG is
    * provably exact, so the final state must hash-match a plain
    * GROUP BY oracle — gating the state-store merge path the way
    * st5/st6 gate dedup and CDC. */
  def streamHeavyHitters(spark: SparkSession, dir: String): DataFrame = {
    val table = streamedHh.getOrElseUpdate(dir, {
      val tmp = java.nio.file.Files.createTempDirectory("graft_st7_").toString
      Tables.orders(spark, dir)
        .select(col("o_orderpriority"), col("o_orderstatus"))
        .repartition(8).write.parquet(s"$tmp/src")
      val schema = spark.read.parquet(s"$tmp/src").schema
      val name = s"graft_st7_${math.abs(dir.hashCode)}"
      val mg = graft.functions.MisraGries.heavyHitters(8)
      EventStreams.runAvailableNow(spark, s"$tmp/src", schema,
        df => df.groupBy(col("o_orderpriority"))
          .agg(mg(col("o_orderstatus")).as("hh")),
        name, maxFilesPerTrigger = Some(1))
      name
    })
    spark.table(table)
      .select(col("o_orderpriority").as("priority"),
        explode(col("hh")).as(Seq("status", "est")))
      .orderBy(col("priority"), col("status"))
  }

  private val streamedHh = memo("st7_stream_heavy_hitters")

  /** st8 — STREAMING count-min sketch: q21's counter table built as a
    * streaming aggregation over 8 one-file micro-batches — the cell
    * counts live in the state store and merge by INTEGER addition
    * (the CMS merge law, zero float risk), then the point queries run
    * as a batch step against the final streamed counters. Must
    * hash-match q21's full-replay oracle exactly: the stream and the
    * batch build are the same sketch or the gate fails. */
  def streamCountMin(spark: SparkSession, dir: String): DataFrame = {
    val table = streamedCms.getOrElseUpdate(dir, {
      val tmp = java.nio.file.Files.createTempDirectory("graft_st8_").toString
      Tables.events(spark, dir).select(col("user_id"))
        .repartition(8).write.parquet(s"$tmp/src")
      val schema = spark.read.parquet(s"$tmp/src").schema
      val name = s"graft_st8_${math.abs(dir.hashCode)}"
      EventStreams.runAvailableNow(spark, s"$tmp/src", schema,
        df => graft.ops.Sketches.cmBucketPairs(df, "user_id")
          .groupBy(col("j"), col("bucket")).agg(count(lit(1)).as("cnt")),
        name, maxFilesPerTrigger = Some(1))
      name
    })
    val ev = Tables.events(spark, dir)
    val est = graft.ops.Sketches.countMinEstimatesFrom(
      spark.table(table), ev, "user_id")
    val exact = ev.groupBy(col("user_id")).agg(count(lit(1)).as("exact"))
    est.join(exact, "user_id")
      .select(col("user_id"), col("est"), col("exact"))
      .orderBy(col("user_id"))
  }

  private val streamedCms = memo("st8_stream_count_min")

  /** st9 — STREAMING throttle dedup (EventStreams.throttleDedupStream,
    * the stateful face of w13's lag-gap rule): per-(user, type) state
    * holds the last event's micros; the source replays as FOUR
    * time-sliced single-file micro-batches (written oldest-first, so
    * the oldest-first file order IS event-time order), and a real
    * gap can straddle a slice boundary — the cross-batch state path is
    * what the oracle gates. Rollup must hash-match w13's batch oracle
    * verbatim. */
  def streamThrottleDedup(spark: SparkSession, dir: String): DataFrame = {
    val table = streamedThrottle.getOrElseUpdate(dir, {
      val src = stageEventTimeSlices(spark, dir, "graft_st9_")
      val schema = spark.read.parquet(src).schema
      val name = s"graft_st9_${math.abs(dir.hashCode)}"
      import spark.implicits._
      EventStreams.runAvailableNow(spark, src, schema,
        df => EventStreams.throttleDedupStream(
          df.as[EventStreams.Event], gapUs = 3600000000L).toDF(),
        name, maxFilesPerTrigger = Some(1),
        outputMode = org.apache.spark.sql.streaming.OutputMode.Append())
      name
    })
    spark.table(table)
      .groupBy(col("event_type"))
      .agg(count(when(col("keep"), 1)).as("n_kept"),
        count(when(!col("keep"), 1)).as("n_dropped"))
      .orderBy(col("event_type"))
  }

  /** Stage the events table as FOUR time-sliced single-file
    * micro-batch sources (oldest-first), shared by the stateful
    * cross-batch faces (st9, st11): sequential single-file writes;
    * FileStreamSource orders files by MODIFICATION TIME, and fast
    * consecutive writes can tie on coarse-granularity filesystems
    * (replaying slices out of event-time order would corrupt per-key
    * lag/as-of state), so each slice's new files get an explicit
    * k-indexed mtime after the write — the processing order is pinned,
    * not assumed. Returns the staged source directory. */
  private def stageEventTimeSlices(spark: SparkSession, dir: String,
                                   tmpPrefix: String): String = {
    val tmp = java.nio.file.Files.createTempDirectory(tmpPrefix).toString
    val ev = Tables.events(spark, dir)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
    val Array(mn, mx) = ev.agg(
        unix_micros(min(col("ts"))), unix_micros(max(col("ts"))))
      .collect().head.toSeq.map(_.asInstanceOf[Long]).toArray
    val step = math.max(1L, (mx - mn) / 4 + 1)
    import java.nio.file.{Files, Path, Paths}
    import java.nio.file.attribute.FileTime
    import scala.jdk.CollectionConverters._
    val srcDir = Paths.get(s"$tmp/src")
    // Files.walk is documented must-close; this runs 8× per staging
    def listFiles(): Set[Path] =
      if (!Files.exists(srcDir)) Set.empty
      else {
        val s = Files.walk(srcDir)
        try s.iterator().asScala.filter(Files.isRegularFile(_)).toSet
        finally s.close()
      }
    val mtimeBase = System.currentTimeMillis()
    for (k <- 0L until 4L) {
      val before = listFiles()
      ev.filter(unix_micros(col("ts")) >= mn + k * step &&
          unix_micros(col("ts")) < mn + (k + 1) * step)
        .coalesce(1).write.mode("append").parquet(s"$tmp/src")
      (listFiles() -- before).foreach(p =>
        Files.setLastModifiedTime(p,
          FileTime.fromMillis(mtimeBase + k * 60000L)))
    }
    s"$tmp/src"
  }

  /** st11 — STREAMING tolerance as-of join
    * (EventStreams.toleranceAsOfStream, the stateful face of w15): the
    * events table replays as four time-sliced micro-batches (st9's
    * staging), per-user state carries ONLY the freshest view seen so
    * far, and each click emits its within-tolerance prior view (or
    * nulls) — crossing slice boundaries through the state store. The
    * rollup must hash-match w15's batch oracle VERBATIM: the stream
    * and the one-shuffle batch window compute the same temporal
    * enrichment or the gate fails. */
  def streamToleranceAsOf(spark: SparkSession, dir: String): DataFrame = {
    val table = streamedAsOf.getOrElseUpdate(dir, {
      val src = stageEventTimeSlices(spark, dir, "graft_st11_")
      val schema = spark.read.parquet(src).schema
      val name = s"graft_st11_${math.abs(dir.hashCode)}"
      import spark.implicits._
      EventStreams.runAvailableNow(spark, src, schema,
        df => EventStreams.toleranceAsOfStream(
          df.as[EventStreams.Event], toleranceUs = 600L * 1000000L).toDF(),
        name, maxFilesPerTrigger = Some(1),
        outputMode = org.apache.spark.sql.streaming.OutputMode.Append())
      name
    })
    spark.table(table)
      .select(col("user_id"), col("event_id"),
        col("prior_view_id"), col("prior_view_value"))
      .orderBy(col("user_id"), col("event_id"))
  }

  /** st12 — STREAMING SCD Type-2 maintenance (EventStreams.scd2Stream,
    * the incremental face of cdc2's batch fold): the three cdc2
    * customer snapshots arrive as version-ordered single-file
    * micro-batches and MERGE-fold into the interval store batch by
    * batch — unchanged rows stay open, value changes close + reopen,
    * deletions close (observable only store-vs-snapshot, which is why
    * this face diffs against the store instead of carrying per-key
    * stream state), reappearances reopen. The final store must
    * hash-match cdc2's batch oracle VERBATIM: K incremental merges
    * and one K-snapshot window fold land on the identical interval
    * table or the gate fails. */
  def streamScd2(spark: SparkSession, dir: String): DataFrame = {
    val store = streamedScd2.getOrElseUpdate(dir, {
      val tmp = java.nio.file.Files.createTempDirectory("graft_st12_").toString
      import java.nio.file.attribute.FileTime
      import java.nio.file.{Files, Path, Paths}
      import scala.jdk.CollectionConverters._
      val srcDir = Paths.get(s"$tmp/src")
      def listFiles(): Set[Path] =
        if (!Files.exists(srcDir)) Set.empty
        else {
          val s = Files.walk(srcDir)
          try s.iterator().asScala.filter(Files.isRegularFile(_)).toSet
          finally s.close()
        }
      val snaps = CoreQueries.scd2SnapshotStream(spark, dir)
      val mtimeBase = System.currentTimeMillis()
      for (v <- 0 until 3) {
        val before = listFiles()
        snaps.filter(col("__ver") === v)
          .coalesce(1).write.mode("append").parquet(s"$tmp/src")
        (listFiles() -- before).foreach(p =>
          Files.setLastModifiedTime(p,
            FileTime.fromMillis(mtimeBase + v * 60000L)))
      }
      val schema = spark.read.parquet(s"$tmp/src").schema
      // maintainEvery = 1: batch 2 (v = 2) prunes ver_0 inside the
      // gate — the version-chain maintenance is exercised, and the
      // final ver_2 read (which the prune never touches) still must
      // hash-match cdc2's batch oracle
      EventStreams.scd2Stream(
        spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1).parquet(s"$tmp/src"),
        keyCols = Seq("c_custkey"),
        valueCols = Seq("c_acctbal", "c_mktsegment"),
        storeDir = s"$tmp/store", checkpoint = s"$tmp/cp",
        maintainEvery = 1)
        .awaitTermination()
      s"$tmp/store/ver_2"
    })
    spark.read.parquet(store)
      .select(col("c_custkey"), col("c_acctbal"), col("c_mktsegment"),
        col("valid_from"), col("valid_to"))
      .orderBy(col("c_custkey"), col("valid_from"))
  }

  /** st13 — STREAMING HLL register build: q23's portable distinct-count
    * registers held in the streaming aggregation STATE STORE and
    * max-merged micro-batch by micro-batch (8 one-file batches = 7
    * real cross-batch register merges), the st8 pattern for the HLL
    * family. Because the register merge is lossless, the final state
    * must equal the batch build bit-for-bit — st13 shares q23's
    * full-replay oracle verbatim. */
  def streamHllRegisters(spark: SparkSession, dir: String): DataFrame = {
    val table = streamedHll.getOrElseUpdate(dir, {
      val tmp = java.nio.file.Files.createTempDirectory("graft_st13_").toString
      Tables.lineitem(spark, dir)
        .select(col("l_returnflag"), col("l_suppkey"))
        .repartition(8).write.parquet(s"$tmp/src")
      val schema = spark.read.parquet(s"$tmp/src").schema
      val name = s"graft_st13_${math.abs(dir.hashCode)}"
      EventStreams.runAvailableNow(spark, s"$tmp/src", schema,
        df => graft.ops.Sketches.hllRegisters(df, "l_returnflag", "l_suppkey"),
        name, maxFilesPerTrigger = Some(1))
      name
    })
    SketchQueries.hllContractReadout(spark.table(table),
      Tables.lineitem(spark, dir)
        .select(col("l_returnflag"), col("l_suppkey")))
  }

  /** st14 — STREAMING histogram-quantile build: q24's fixed-width bin
    * counts as a streaming aggregation, sum-merged in the state store
    * across 8 micro-batches; the median/bracket readout runs
    * batch-side on the final state. Addition-merge is lossless, so
    * st14 shares q24's full-replay oracle verbatim — completing the
    * batch + incremental-store + streaming triple for the histogram
    * family (the HLL family's q23/st13 pattern). */
  def streamHistQuantile(spark: SparkSession, dir: String): DataFrame = {
    val table = streamedHist.getOrElseUpdate(dir, {
      val tmp = java.nio.file.Files.createTempDirectory("graft_st14_").toString
      Tables.lineitem(spark, dir)
        .select(col("l_returnflag"), col("l_extendedprice"))
        .repartition(8).write.parquet(s"$tmp/src")
      val schema = spark.read.parquet(s"$tmp/src").schema
      val name = s"graft_st14_${math.abs(dir.hashCode)}"
      EventStreams.runAvailableNow(spark, s"$tmp/src", schema,
        df => graft.ops.Sketches.histBins(df, "l_returnflag",
          "l_extendedprice", 1000.0),
        name, maxFilesPerTrigger = Some(1))
      name
    })
    SketchQueries.histContractReadout(spark.table(table),
      Tables.lineitem(spark, dir)
        .select(col("l_returnflag"), col("l_extendedprice")), 1000.0)
  }

  /** st15 — STREAMING KMV distinct sketch: q25's bottom-k store held
    * in the streaming aggregation STATE STORE (the custom
    * functions.KmvSketch udaf, st7's MisraGries pattern) and min-k-
    * merged micro-batch by micro-batch across 8 one-file batches.
    * minK-merge is lossless, so the final state must equal the batch
    * sketch BIT-FOR-BIT — st15 shares q25's full-replay oracle
    * verbatim, completing the batch + incremental-store + streaming
    * triple for the third sketch family. */
  def streamKmvSketch(spark: SparkSession, dir: String): DataFrame = {
    val table = streamedKmv.getOrElseUpdate(dir, {
      val tmp = java.nio.file.Files.createTempDirectory("graft_st15_").toString
      Tables.lineitem(spark, dir)
        .select(col("l_returnflag"), col("l_suppkey"))
        .repartition(8).write.parquet(s"$tmp/src")
      val schema = spark.read.parquet(s"$tmp/src").schema
      val name = s"graft_st15_${math.abs(dir.hashCode)}"
      val k = graft.ops.Sketches.KmvK
      EventStreams.runAvailableNow(spark, s"$tmp/src", schema,
        df => df
          .select(col("l_returnflag"),
            graft.ops.Sketches.kmvHash(col("l_suppkey")).as("__h"))
          .groupBy(col("l_returnflag"))
          .agg(graft.functions.KmvSketch.kmv(k)(col("__h")).as("__sk")),
        name, maxFilesPerTrigger = Some(1))
      name
    })
    SketchQueries.kmvContractReadout(
      spark.table(table)
        .select(col("l_returnflag"), explode(col("__sk")).as("h")),
      Tables.lineitem(spark, dir)
        .select(col("l_returnflag"), col("l_suppkey")))
  }

  private val streamedKmv = memo("st15_stream_kmv")

  /** st17 — STREAMING overlap-matrix sketches: ov1's per-source
    * shingle sketches held in the streaming aggregation state store
    * (documents arrive as 8 one-file micro-batches, shingled map-side
    * by the native WordNGrams slicer) and min-k-merged batch by
    * batch; the pairwise matrix + exact-side gate run batch-side on
    * the final state. Lossless minK merge ⇒ the streamed sketches
    * equal the batch build bit-for-bit ⇒ st17 gates on ov1's oracle
    * VERBATIM — completing the batch (ov1) + incremental-store (ov1b)
    * + streaming triple for the overlap family, the production shape
    * for a continuously-ingesting corpus whose contamination screen
    * must stay current without rescans. */
  def streamOverlapMatrix(spark: SparkSession, dir: String): DataFrame = {
    val table = streamedOvm.getOrElseUpdate(dir, {
      val tmp = java.nio.file.Files.createTempDirectory("graft_st17_").toString
      Tables.documents(spark, dir)
        .select(col("source"), col("text"))
        .repartition(8).write.parquet(s"$tmp/src")
      val schema = spark.read.parquet(s"$tmp/src").schema
      val name = s"graft_st17_${math.abs(dir.hashCode)}"
      val k = graft.ops.Sketches.KmvK
      EventStreams.runAvailableNow(spark, s"$tmp/src", schema,
        df => df
          .select(col("source"),
            explode(graft.ops.Dedup.shingles(col("text"), 3)).as("sh"))
          .select(col("source"),
            graft.ops.Sketches.kmvHash(col("sh")).as("__h"))
          .groupBy(col("source"))
          .agg(graft.functions.KmvSketch.kmv(k)(col("__h")).as("__sk")),
        name, maxFilesPerTrigger = Some(1))
      name
    })
    val sk = spark.table(table)
      .select(col("source"), explode(col("__sk")).as("h"))
      // the matrix self-joins the sketch frame (pair expansion), which
      // trips self-join attribute dedup on a memory-sink view — sever
      // lineage first (≤ S·k rows by construction)
      .localCheckpoint()
    val sh = Tables.documents(spark, dir)
      .select(col("source"),
        explode(graft.ops.Dedup.shingles(col("text"), 3)).as("sh"))
    SketchQueries.matrixContractReadout(spark, sk, sh)
  }

  private val streamedOvm = memo("st17_stream_overlap")

  /** st18 — STREAMING near-dup components
    * (EventStreams.componentsStream): the documents table arrives as
    * 4 micro-batches; each batch signs once, finds its delta pairs
    * against the signature store-so-far, and folds them into the
    * label store by d6b's root contraction. Every eventual pair is
    * discovered exactly when its later doc arrives and the
    * contraction fold is exact, so the final `ver_3` labels equal the
    * one-shot batch CC — st18 gates on d6's oracle VERBATIM,
    * completing the batch (d6) + incremental-store (d6b) + streaming
    * triple for the components family: dedup-graph freshness for a
    * continuously-ingesting corpus, per-batch cost sign+probe+merge
    * of the batch alone. */
  def streamComponents(spark: SparkSession, dir: String): DataFrame = {
    val labels = streamedCc.getOrElseUpdate(dir, {
      val tmp = java.nio.file.Files.createTempDirectory("graft_st18_").toString
      Tables.documents(spark, dir).select(col("doc_id"), col("text"))
        .repartition(4).write.parquet(s"$tmp/src")
      val schema = spark.read.parquet(s"$tmp/src").schema
      // maintainEvery = 2: the signature store folds from inside the
      // stream (the r14 maintenance slot), gated by d6's oracle
      EventStreams.componentsStream(
        spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1).parquet(s"$tmp/src"),
        "doc_id", "text", s"$tmp/store", s"$tmp/labels",
        s"$tmp/cp", threshold = 0.8, maintainEvery = 2).awaitTermination()
      // the final version is whatever the stream actually wrote —
      // derived from the label dir, not coupled to the staging
      // repartition count (fewer files than partitions is legal)
      val lp = new org.apache.hadoop.fs.Path(s"$tmp/labels")
      val fs = lp.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val last = fs.listStatus(lp).map(_.getPath.getName)
        .filter(_.startsWith("ver_")).map(_.stripPrefix("ver_").toInt).max
      s"$tmp/labels/ver_$last"
    })
    spark.read.parquet(labels).orderBy(col("node"))
  }

  private val streamedCc = memo("st18_stream_components")

  /** st19 — streaming near-dup components over the BUCKET-PARTITIONED
    * label store (EventStreams.componentsStreamBucketed): st18's fold
    * with the per-batch WRITE made O(touched buckets) instead of
    * node-sized — the single remaining data-sized term in the
    * incremental family removed (the store is one live table whose
    * untouched bucket files stay byte-identical across batches,
    * asserted in ComponentStoreSpec). Same exactness argument as
    * st18: every pair discovered when its later doc arrives, the
    * contraction fold exact ⇒ the final store equals the one-shot
    * batch CC, gating on d6's oracle VERBATIM. */
  def streamComponentsBucketed(spark: SparkSession, dir: String): DataFrame = {
    val labels = streamedCcb.getOrElseUpdate(dir, {
      val tmp = java.nio.file.Files.createTempDirectory("graft_st19_").toString
      Tables.documents(spark, dir).select(col("doc_id"), col("text"))
        .repartition(4).write.parquet(s"$tmp/src")
      val schema = spark.read.parquet(s"$tmp/src").schema
      EventStreams.componentsStreamBucketed(
        spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1).parquet(s"$tmp/src"),
        "doc_id", "text", s"$tmp/store", s"$tmp/lbl",
        s"$tmp/cp", threshold = 0.8, maintainEvery = 2).awaitTermination()
      s"$tmp/lbl/labels"
    })
    graft.ops.Dedup.readComponentStore(spark, labels)
      .select(col("node"), col("component"))
      .orderBy(col("node"))
  }

  private val streamedCcb = memo("st19_stream_components_bucketed")

  /** st20 — STREAMING BM25 index maintenance
    * (EventStreams.bm25IndexStream): the documents table arrives as 4
    * micro-batches, each appending its docs to the persisted inverted
    * index (idempotent per artifact — postings + doc-length sidecar);
    * the query then serves from the index alone, pruning to the query
    * terms' bucket partitions. Immutable postings + additive sidecar
    * ⇒ the streamed index equals the one-shot batch build, so st20
    * gates on r1's oracle VERBATIM — completing the batch (r1) +
    * incremental-store (r1b) + streaming triple for the retrieval
    * family: a continuously-ingesting searchable corpus whose index
    * stays current at per-batch tokenize+append cost. */
  def streamBm25Index(spark: SparkSession, dir: String): DataFrame = {
    val idx = streamedBm25.getOrElseUpdate(dir, {
      val tmp = java.nio.file.Files.createTempDirectory("graft_st20_").toString
      Tables.documents(spark, dir).select(col("doc_id"), col("text"))
        .repartition(4).write.parquet(s"$tmp/src")
      val schema = spark.read.parquet(s"$tmp/src").schema
      // maintainEvery = 2: the 4-batch fixture runs the in-stream
      // compaction slot twice, so the oracle gates the index THROUGH
      // its own maintenance (r14 — not just across manual compaction)
      EventStreams.bm25IndexStream(
        spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1).parquet(s"$tmp/src"),
        "doc_id", "text", s"$tmp/idx", s"$tmp/cp",
        maintainEvery = 2).awaitTermination()
      s"$tmp/idx"
    })
    TextQueries.bm25Readout(
      graft.ops.Retrieval.bm25FromIndex(spark, idx, TextQueries.BmTerms))
  }

  private val streamedBm25 = memo("st20_stream_bm25_index")

  /** st21 — STREAMING per-node triangle counts
    * (EventStreams.triangleCountStream): the sparsified supplier
    * graph's edges arrive as 4 micro-batches; each batch writes its
    * ≥1-novel-edge triangle increment to an overwrite-idempotent
    * `inc_<b>` dir and appends its novel edges — every crash window
    * heals on replay because the increment derives from edge-store
    * novelty. Σ increments ≡ the one-shot triangle count (the tc2
    * identity applied batch by batch), so st21 gates on tc1's oracle
    * VERBATIM — completing the graph family's batch (tc1) +
    * incremental-store (tc2) + streaming (st21) triple. */
  def streamTriangleCounts(spark: SparkSession, dir: String): DataFrame = {
    val store = streamedTri.getOrElseUpdate(dir, {
      val tmp = java.nio.file.Files.createTempDirectory("graft_st21_").toString
      CoreQueries.supplierCoEdges(spark, dir)
        .repartition(4).write.parquet(s"$tmp/src")
      val schema = spark.read.parquet(s"$tmp/src").schema
      // maintainEvery = 2: batches 1 and 3 fold the edge buckets and
      // the committed increments from inside the stream — the r14
      // maintenance slot, gated by tc1's oracle verbatim
      EventStreams.triangleCountStream(
        spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1).parquet(s"$tmp/src"),
        "u", "v", s"$tmp/store", s"$tmp/cp",
        maintainEvery = 2).awaitTermination()
      s"$tmp/store"
    })
    EventStreams.readTriangleCounts(spark, store)
      .orderBy(col("n_tri").desc, col("node"))
      .limit(20)
  }

  private val streamedTri = memo("st21_stream_triangles")

  /** st22 — STREAMING correlation moments: cm1b's one-row exact
    * DECIMAL moment table (ops.Profiling.corrMoments) built as a
    * streaming global aggregation, sum-merged in the state store
    * across 8 micro-batches; the Pearson readout runs batch-side on
    * the final moments. Decimal addition is exact and associative,
    * so the streamed moments equal the batch build bit-for-bit and
    * st22 gates on cm1b's moment-replay oracle VERBATIM — the
    * continuous-monitoring shape: feature-correlation freshness with
    * 1 + k + k(k+1)/2 values of state, the corpus streamed past
    * once. */
  def streamCorrMoments(spark: SparkSession, dir: String): DataFrame = {
    val table = streamedCm.getOrElseUpdate(dir, {
      val tmp = java.nio.file.Files.createTempDirectory("graft_st22_").toString
      Tables.lineitem(spark, dir)
        .select(ProfileQueries.CorrCols.map(col): _*)
        .repartition(8).write.parquet(s"$tmp/src")
      val schema = spark.read.parquet(s"$tmp/src").schema
      val name = s"graft_st22_${math.abs(dir.hashCode)}"
      EventStreams.runAvailableNow(spark, s"$tmp/src", schema,
        df => graft.ops.Profiling.corrMoments(df, ProfileQueries.CorrCols),
        name, maxFilesPerTrigger = Some(1))
      name
    })
    graft.ops.Profiling.corrFromMoments(
        spark.table(table).localCheckpoint(), ProfileQueries.CorrCols)
      .select(col("col_a"), col("col_b"),
        graft.functions.Rounding.exactRound(col("corr_raw"), 6).as("corr"))
      .orderBy(col("col_a"), col("col_b"))
  }

  private val streamedCm = memo("st22_stream_corr_moments")

  /** st23 — STREAMING weighted sample
    * (EventStreams.weightedSampleStream): the documents table arrives
    * as 8 micro-batches, each folding into a 50-row sample snapshot
    * (commit-then-freeze `sample_<b>` dirs, gap-guarded, swept to the
    * newest — state is k rows by construction). The race keys are
    * deterministic, so the min-k fold is idempotent/commutative/
    * associative and the drained sample equals the one-shot draw
    * row-for-row — st23 gates on t15's oracle VERBATIM, completing
    * the sampling family's batch (t15) + incremental-store (t15b) +
    * streaming triple: a "sample long documents more" mix that stays
    * current over a corpus that never stops arriving. */
  def streamWeightedSample(spark: SparkSession, dir: String): DataFrame = {
    val store = streamedWs.getOrElseUpdate(dir, {
      val tmp = java.nio.file.Files.createTempDirectory("graft_st23_").toString
      Tables.documents(spark, dir)
        .select(col("doc_id"), col("source"), col("n_chars"))
        .repartition(8).write.parquet(s"$tmp/src")
      val schema = spark.read.parquet(s"$tmp/src").schema
      EventStreams.weightedSampleStream(
        spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1).parquet(s"$tmp/src"),
        "doc_id", greatest(col("n_chars"), lit(1)).cast("double"),
        k = 50, salt = "v1", s"$tmp/store", s"$tmp/cp").awaitTermination()
      s"$tmp/store"
    })
    EventStreams.readWeightedSample(spark, store)
      .select(col("doc_id"), col("source"), col("n_chars"))
      .orderBy(col("doc_id"))
  }

  private val streamedWs = memo("st23_stream_weighted_sample")

  /** st16 — STREAMING drift monitor: ks1's bounded bin frame
    * (ops.Profiling.driftBins) built as a streaming aggregation,
    * sum-merged in the state store across 8 micro-batches; the KS/PSI
    * readout runs batch-side on the final bins. Addition-merge is
    * lossless, so st16 shares ks1's oracle verbatim — the production
    * shape for CONTINUOUS drift monitoring, where the corpus streams
    * past once and the monitor keeps ≤ nBins+1 rows of state. */
  def streamDrift(spark: SparkSession, dir: String): DataFrame = {
    val table = streamedDrift.getOrElseUpdate(dir, {
      val tmp = java.nio.file.Files.createTempDirectory("graft_st16_").toString
      Tables.orders(spark, dir)
        .select(col("o_totalprice"), col("o_orderdate"))
        .repartition(8).write.parquet(s"$tmp/src")
      val schema = spark.read.parquet(s"$tmp/src").schema
      val name = s"graft_st16_${math.abs(dir.hashCode)}"
      EventStreams.runAvailableNow(spark, s"$tmp/src", schema,
        df => graft.ops.Profiling.driftBins(df, "o_totalprice",
          isA = ProfileQueries.priceDriftIsA, binWidth = 25000.0, nBins = 20),
        name, maxFilesPerTrigger = Some(1))
      name
    })
    // the KS readout self-joins the bin frame for its cumulative sums,
    // which trips self-join attribute dedup on a memory-sink view —
    // sever lineage first (the frame is ≤ nBins+1 rows by construction)
    ProfileQueries.driftReadout(spark.table(table).localCheckpoint())
  }

  private val streamedDrift = memo("st16_stream_drift")

  private val streamedHist = memo("st14_stream_hist")

  private val streamedHll = memo("st13_stream_hll")

  private val streamedScd2 = memo("st12_stream_scd2")

  private val streamedAsOf = memo("st11_stream_asof")

  private val streamedThrottle = memo("st9_stream_throttle")

  private val streamedCdcOps = memo("st6_stream_cdc")

  /** Names of the registered queries whose result is memoized per dir
    * (st4–st9, st11–st26 run a real stream once, then serve a batch
    * read): exactly the queries that declared a [[memo]]. */
  def CachedStreamQueries: Set[String] = memos.keySet.toSet

  /** Cold-path reset for the bench: forget every streamed-result memo
    * so the next call re-stages the source, replays the stream through
    * a FRESH state store/checkpoint and rewrites the sink.
    * SPARK_GRAFT_BENCH_COLD_STREAMS uses this to record one genuinely
    * cold number per streaming query per round — the memoized numbers
    * hide streaming-path regressions behind a table re-read. */
  def resetStreamCaches(): Unit = memos.values.foreach(_.clear())

  /** st3 — stream-stream interval join (EventStreams.clickViewJoin,
    * batch face): clicks × same-user views in the trailing 10 minutes.
    * StreamingSpec runs the identical transform as a genuine two-file-
    * stream join and asserts pair-set equality with this result. */
  def clickViewPairs(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
        col("ts").as("c_ts"))
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("event_id").as("view_id"),
        col("ts").as("v_ts"))
    EventStreams.clickViewJoin(clicks, views)
      .select(col("click_id"), col("view_id"))
      .orderBy(col("click_id"), col("view_id"))
  }

  /** st2 — session windows (2h gap) per user; DuckDB oracle uses
    * gaps-and-islands with the same boundary semantics (a gap of
    * exactly 2h starts a new session — session_window ends are
    * exclusive). */
  def userSessions(spark: SparkSession, dir: String): DataFrame =
    EventStreams.userSessions(Tables.events(spark, dir), "2 hours")
      .select(col("user_id"),
        date_format(col("session_start"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
        date_format(col("session_end"), "yyyy-MM-dd HH:mm:ss").as("session_end"),
        col("n_events"))
      .orderBy(col("user_id"), col("session_start"))
}
