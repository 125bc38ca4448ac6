package graft

import org.apache.spark.sql.functions._
import graft.streaming.EventStreams
import java.sql.Timestamp

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private lazy val batchEvents = Tables.events(spark, sfDir)

  /** Assert a bucketed keyed-log store (`__kb=` layout, r16) is fully
    * folded: ≥1 bucket dir, ≤1 data file in each. */
  private def assertFoldedBuckets(path: String, what: String): Unit = {
    val dirs = new java.io.File(path).listFiles()
      .filter(d => d.isDirectory && d.getName.startsWith("__kb="))
    assert(dirs.nonEmpty, s"$what has no __kb= bucket dirs under $path")
    for (d <- dirs)
      assert(graft.etl.BucketCompaction.dataFileCount(spark, d.toString) <= 1,
        s"$what bucket ${d.getName} not folded by the in-stream slot")
  }

  test("every per-dir stream memo is a registered query the cold reset lists") {
    // st1/st2/st3/st10 are batch faces over the table, with no stream run
    val batchFaces = Set("st1_hourly_window", "st2_user_sessions",
      "st3_stream_join", "st10_stream_hopping")
    assert(graft.analytics.StreamQueries.CachedStreamQueries ===
      SparkEntry.queries.keySet.filter(_.matches("st\\d+_.*")) -- batchFaces)
  }

  test("streaming hourly window equals the batch run of the same transform") {
    // stage the events as a parquet "stream source" with a stable schema
    val dir = java.nio.file.Files.createTempDirectory("stream-src").toString
    batchEvents.write.mode("overwrite").parquet(dir)
    val schema = spark.read.parquet(dir).schema
    val streamed = EventStreams.runAvailableNow(
      spark, dir, schema, EventStreams.hourlyTypeCounts, "hourly_test")
    val batch = EventStreams.hourlyTypeCounts(batchEvents)
    val key = (df: org.apache.spark.sql.DataFrame) =>
      df.select($"hour_start".cast("string"), $"event_type", $"n_events")
        .as[(String, String, Long)].collect().toSet
    assert(key(streamed) == key(batch))
    assert(batch.count() > 0)
  }

  test("streaming hopping window equals the batch run of the same transform") {
    val dir = java.nio.file.Files.createTempDirectory("stream-src-hop").toString
    batchEvents.write.mode("overwrite").parquet(dir)
    val schema = spark.read.parquet(dir).schema
    val streamed = EventStreams.runAvailableNow(
      spark, dir, schema, EventStreams.hoppingTypeCounts, "hopping_test")
    val batch = EventStreams.hoppingTypeCounts(batchEvents)
    val key = (df: org.apache.spark.sql.DataFrame) =>
      df.select($"w_start".cast("string"), $"event_type", $"n_events")
        .as[(String, String, Long)].collect().toSet
    assert(key(streamed) == key(batch))
    // sliding expansion: total assignments = 2 × events
    val assigned = batch.agg(sum($"n_events")).as[Long].head()
    assert(assigned == 2 * batchEvents.count())
  }

  test("session windows: no overlapping sessions per user, gaps respected") {
    val sessions = EventStreams.userSessions(batchEvents, "2 hours")
      .select($"user_id", $"session_start", $"session_end", $"n_events")
      .as[(Long, Timestamp, Timestamp, Long)].collect()
      .groupBy(_._1)
    sessions.foreach { case (_, ss) =>
      val sorted = ss.sortBy(_._2.getTime)
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          // next session starts at least 2h after the previous LAST event
          assert(b._2.getTime - a._3.getTime >= 2 * 3600 * 1000L)
        case _ =>
      }
    }
    val total = sessions.values.flatten.map(_._4).sum
    assert(total == batchEvents.count())
  }

  test("streaming dedup within watermark drops duplicate event ids") {
    val dir = java.nio.file.Files.createTempDirectory("dedup-src").toString
    val base = batchEvents.limit(100)
    base.write.mode("overwrite").parquet(dir)
    base.write.mode("append").parquet(dir) // exact duplicates of every row
    val schema = spark.read.parquet(dir).schema
    assert(spark.read.parquet(dir).count() == 200)

    val stream = EventStreams.dedupedEvents(
      spark.readStream.schema(schema).parquet(dir))
    val q = stream.writeStream.format("memory").queryName("dedup_test")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(spark.table("dedup_test").count() == 100)
    assert(spark.table("dedup_test").select("event_id").distinct().count() == 100)
  }

  test("streaming doc router: stream and batch route identically") {
    val dir = java.nio.file.Files.createTempDirectory("route-src").toString
    val docs = Tables.documents(spark, sfDir)
    docs.write.mode("overwrite").parquet(dir)
    val schema = spark.read.parquet(dir).schema

    val minQ = 0.5 // strict enough to actually reject docs at this SF
    val streamed = EventStreams.routeDocs(
      spark.readStream.schema(schema).parquet(dir), minQuality = minQ)
    val q = streamed.writeStream.format("memory").queryName("route_test")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val viaStream = spark.table("route_test")
      .select($"doc_id", $"split").as[(Long, String)].collect().toMap
    val viaBatch = EventStreams.routeDocs(docs, minQuality = minQ)
      .select($"doc_id", $"split").as[(Long, String)].collect().toMap
    assert(viaStream == viaBatch)
    assert(viaBatch.nonEmpty && viaBatch.values.toSet.subsetOf(Set("train", "val")))
    // quality gate actually filters
    assert(viaBatch.size < docs.count())
  }

  test("streaming incremental dedup: multi-batch stream equals one-shot batch dedup") {
    import graft.ops.Dedup
    val docs = Tables.documents(spark, sfDir).select($"doc_id", $"text")
      .unionByName(Tables.documents(spark, sfDir).filter($"doc_id" < 5)
        .select(($"doc_id" + 700000L).as("doc_id"), $"text")) // cross-batch dups
    val src = java.nio.file.Files.createTempDirectory("ded-src").toString
    // two source files → maxFilesPerTrigger=1 forces two micro-batches
    docs.filter($"doc_id" < 250).coalesce(1).write.mode("overwrite")
      .parquet(src + "/a=1")
    docs.filter($"doc_id" >= 250).coalesce(1).write.mode("append")
      .parquet(src + "/a=2")
    val schema = spark.read.parquet(src + "/a=1").schema
    val store = java.nio.file.Files.createTempDirectory("ded-store").toString + "/sigs"
    val pairsOut = java.nio.file.Files.createTempDirectory("ded-pairs").toString + "/pairs"

    def run(cp: String): Unit = EventStreams.incrementalDedupStream(
      spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
        .parquet(src + "/*"),
      "doc_id", "text", store, pairsOut, cp).awaitTermination()

    run(java.nio.file.Files.createTempDirectory("ded-cp1").toString)
    val streamed = spark.read.parquet(pairsOut)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val oneShot = Dedup.minHashNearDups(docs, "doc_id", "text", 0.8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(streamed == oneShot, s"streamed=${streamed.size} batch=${oneShot.size}")
    assert(streamed.nonEmpty)
    // full replay from a fresh checkpoint: both sinks are keyed
    // idempotent appends — nothing new lands
    val nPairs = spark.read.parquet(pairsOut).count()
    val nSigs = spark.read.parquet(store).count()
    run(java.nio.file.Files.createTempDirectory("ded-cp2").toString)
    assert(spark.read.parquet(pairsOut).count() == nPairs)
    assert(spark.read.parquet(store).count() == nSigs)
  }

  test("streaming SemDeDup: prior art wins across batches; replay is idempotent") {
    // dim-8 one-hot basis: batch 1's eight orthogonal vectors all
    // survive (pairwise cosine 0) and freeze the centroid quantizer;
    // batch 2 plants one exact dup of a store vector (dropped: store
    // neighbors are prior art), one oblique mix (survives), another
    // store dup (dropped), and an in-batch identical pair (smaller id
    // survives by the batch tie rule)
    def unit(i: Int): Seq[Double] = (0 until 8).map(j => if (j == i) 1.0 else 0.0)
    val mix01 = { val r = math.sqrt(0.5); Seq(r, r, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0) }
    val mix0123 = Seq(0.5, 0.5, 0.5, 0.5, 0.0, 0.0, 0.0, 0.0)
    val b1 = (0L until 8L).map(i => (i, unit(i.toInt)))
    val b2 = Seq(100L -> unit(0), 101L -> mix01, 102L -> unit(1),
      103L -> mix0123, 104L -> mix0123)
    val src = java.nio.file.Files.createTempDirectory("sem-src").toString
    val store = java.nio.file.Files.createTempDirectory("sem-store").toString + "/store"
    val out = java.nio.file.Files.createTempDirectory("sem-out").toString + "/survivors"
    b1.toDF("vec_id", "embedding").coalesce(1)
      .write.mode("overwrite").parquet(src + "/a=1")
    val schema = spark.read.parquet(src + "/a=1").schema

    def run(cp: String): Unit = EventStreams.semanticDedupStream(
      spark.readStream.schema(schema).parquet(src + "/*"),
      "vec_id", "embedding", store, out, cp, tau = 0.95).awaitTermination()

    // phase 1: only batch 1 exists — bootstraps centroids, all survive
    val cp = java.nio.file.Files.createTempDirectory("sem-cp1").toString
    run(cp)
    assert(spark.read.parquet(out).select("vec_id").as[Long].collect().toSet
      == (0L until 8L).toSet)
    // phase 2: batch 2 arrives — SAME checkpoint processes only it
    b2.toDF("vec_id", "embedding").coalesce(1)
      .write.mode("append").parquet(src + "/a=2")
    run(cp)
    val survivors = spark.read.parquet(out).select("vec_id").as[Long].collect().toSet
    assert(survivors == (0L until 8L).toSet ++ Set(101L, 103L),
      s"got $survivors")
    // dropped rows must NOT be prior art in the store
    val stored = spark.read.parquet(store + "/assignments")
      .select("__vid").as[Long].collect().toSet
    assert(stored == survivors, s"store=$stored")
    // full replay from a fresh checkpoint: both sinks keyed idempotent
    val nSurv = spark.read.parquet(out).count()
    run(java.nio.file.Files.createTempDirectory("sem-cp2").toString)
    assert(spark.read.parquet(out).count() == nSurv)
    assert(spark.read.parquet(store + "/assignments").count() == stored.size)
  }

  test("streaming SemDeDup: no count() pre-pass — bounded job count per micro-batch") {
    // regression canary for the emptiness guard: the old
    // `batch.count() > 0` + unpersisted recompute cost a full extra
    // pass per action (count, centroid write, dedup, assignment each
    // re-read the source). With localCheckpoint + isEmpty the whole
    // first micro-batch (checkpoint, guard, centroid freeze, dedup,
    // two idempotent appends) runs in a BOUNDED number of jobs —
    // measured 22 on this fixed 8-row input; the bound leaves slack
    // for AQE variation but catches any reintroduced full pre-pass.
    def unit(i: Int): Seq[Double] = (0 until 8).map(j => if (j == i) 1.0 else 0.0)
    val src = java.nio.file.Files.createTempDirectory("semjc-src").toString
    val store = java.nio.file.Files.createTempDirectory("semjc-store").toString + "/store"
    val out = java.nio.file.Files.createTempDirectory("semjc-out").toString + "/survivors"
    (0L until 8L).map(i => (i, unit(i.toInt))).toDF("vec_id", "embedding")
      .coalesce(1).write.parquet(src + "/a=1")
    val schema = spark.read.parquet(src + "/a=1").schema
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet(): Unit
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      EventStreams.semanticDedupStream(
        spark.readStream.schema(schema).parquet(src + "/*"),
        "vec_id", "embedding", store, out,
        java.nio.file.Files.createTempDirectory("semjc-cp").toString,
        tau = 0.95).awaitTermination()
      Thread.sleep(500) // listener bus drains asynchronously
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(spark.read.parquet(out).count() == 8)
    assert(jobs.get() <= 25, s"micro-batch ran ${jobs.get()} jobs — " +
      "did a count()/recompute pre-pass sneak back in?")
  }

  test("st5 rehearsal: streamed MinHash pair sink equals the batch d2 result") {
    // the driver's oracle replays d2's brute-force SQL against st5's
    // stream output — assert the equivalence the shared oracle rests
    // on: one AvailableNow batch vs an empty store IS the batch dedup
    val st5 = SparkEntry.queries("st5_stream_minhash")(spark, sfDir).collect().toSeq
    val d2 = SparkEntry.queries("d2_minhash_neardup")(spark, sfDir).collect().toSeq
    assert(st5 == d2, s"st5 ${st5.size} rows vs d2 ${d2.size}")
    assert(st5.nonEmpty)
  }

  test("st7 rehearsal: streamed Misra-Gries state equals batch GROUP BY counts") {
    // 8 one-file micro-batches force 7 real state-store sketch merges;
    // under k = 8 with 3 distinct statuses the sketch is exact, so the
    // final complete-mode state must equal a plain batch aggregate
    val st7 = SparkEntry.queries("st7_stream_heavy_hitters")(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val batch = Tables.orders(spark, sfDir)
      .groupBy("o_orderpriority", "o_orderstatus").count()
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(st7 === batch)
    assert(st7.nonEmpty)
  }

  test("st8 rehearsal: streamed count-min counters equal the batch sketch") {
    val st8 = SparkEntry.queries("st8_stream_count_min")(spark, sfDir)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val q21 = SparkEntry.queries("q21_count_min")(spark, sfDir)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(st8 === q21)
    assert(st8.nonEmpty)
  }

  test("st9 rehearsal: streamed stateful throttle equals the batch lag rule") {
    val st9 = SparkEntry.queries("st9_stream_throttle")(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val w13 = SparkEntry.queries("w13_throttle_dedup")(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(st9 === w13)
    assert(st9.nonEmpty)
  }

  test("st11 rehearsal: streamed tolerance as-of equals the batch w15 window") {
    val st11 = SparkEntry.queries("st11_stream_asof")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toSet
    val w15 = SparkEntry.queries("w15_asof_tolerance")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toSet
    assert(st11 === w15)
    assert(st11.nonEmpty)
    // a matched row and a tolerance-nulled row both occur — the
    // freshness CASE path is genuinely exercised at this fixture
    assert(st11.exists(_._3.isDefined) && st11.exists(_._3.isEmpty))
  }

  test("st12 rehearsal: streamed SCD2 store equals the batch cdc2 fold") {
    def rows(name: String) =
      SparkEntry.queries(name)(spark, sfDir)
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(2),
          r.getInt(3), if (r.isNullAt(4)) None else Some(r.getInt(4))))
    val st12 = rows("st12_stream_scd2")
    val cdc2 = rows("cdc2_scd2")
    assert(st12.toSeq == cdc2.toSeq)
    assert(st12.nonEmpty)
    // all four fold cases must occur at this fixture: open rows,
    // value-change closures (valid_to=1 or 2 with a successor),
    // deletions (closed, no successor) and reappearances
    val byKey = st12.groupBy(_._1)
    assert(st12.exists(_._5.isEmpty), "open intervals")
    assert(byKey.values.exists(_.size > 1), "multi-interval keys")
    assert(st12.exists(r => r._5.contains(1)), "a closure at v1")
  }

  test("scd2Stream fails fast on a mixed-version micro-batch") {
    // two snapshot versions staged as ONE batch (no maxFilesPerTrigger
    // cap): folding them as a single snapshot at max(__ver) would
    // produce wrong intervals, so the stream must abort with the
    // single-version guard instead of silently merging
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_scd2guard").toString
    Seq((1L, 10.0, "A", 0), (1L, 11.0, "A", 1), (2L, 5.0, "B", 0))
      .toDF("c_custkey", "c_acctbal", "c_mktsegment", "__ver")
      .write.parquet(s"$tmp/src")
    val schema = spark.read.parquet(s"$tmp/src").schema
    val q = graft.streaming.EventStreams.scd2Stream(
      spark.readStream.schema(schema).parquet(s"$tmp/src"),
      keyCols = Seq("c_custkey"),
      valueCols = Seq("c_acctbal", "c_mktsegment"),
      storeDir = s"$tmp/store", checkpoint = s"$tmp/cp")
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.awaitTermination()
    }
    def chain(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: chain(t.getCause)
    assert(chain(ex).exists(c =>
      c.getMessage != null && c.getMessage.contains("scd2Stream")),
      s"expected the single-version guard, got: $ex")
  }

  test("st13 rehearsal: streamed HLL registers equal the batch q23 store") {
    val st13 = SparkEntry.queries("st13_stream_hll")(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    val q23 = SparkEntry.queries("q23_hll_register_store")(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    assert(st13 == q23)
    assert(st13.nonEmpty && st13.forall(_.last == true),
      "within_bound must hold through the state-store merge")
  }

  test("st14 rehearsal: streamed histogram equals the batch q24 store") {
    val st14 = SparkEntry.queries("st14_stream_hist")(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    val q24 = SparkEntry.queries("q24_hist_quantile_store")(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    assert(st14 == q24)
    assert(st14.nonEmpty && st14.forall(_.last == true),
      "bracket check must hold through the state-store merge")
  }

  test("st15 rehearsal: streamed KMV sketch equals the batch q25 store") {
    val st15 = SparkEntry.queries("st15_stream_kmv")(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    val q25 = SparkEntry.queries("q25_kmv_store")(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    assert(st15 == q25)
    assert(st15.nonEmpty && st15.forall(_.last == true),
      "within_bound must hold through the state-store merge")
  }

  test("st16 rehearsal: streamed drift bins equal the batch ks1 monitor") {
    val st16 = SparkEntry.queries("st16_stream_drift")(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    val ks1 = SparkEntry.queries("ks1_drift")(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    assert(st16 == ks1)
    assert(st16.nonEmpty)
  }

  test("st17 rehearsal: streamed overlap-matrix sketches equal the batch ov1") {
    val st17 = SparkEntry.queries("st17_stream_overlap")(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    val ov1 = SparkEntry.queries("ov1_overlap_matrix")(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    assert(st17 == ov1)
    assert(st17.nonEmpty && st17.forall(_.last == true),
      "per-pair Jaccard contract must hold through the state-store merge")
  }

  test("st18 rehearsal: streamed component store equals the batch d6 CC") {
    val st18 = SparkEntry.queries("st18_stream_components")(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    val d6 = SparkEntry.queries("d6_neardup_components")(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    assert(st18 == d6)
    assert(st18.nonEmpty)
  }

  test("toleranceAsOfStream carries as-of state ACROSS micro-batches") {
    // a view in batch 1, its click in batch 2: only the state store can
    // connect them. Two clicks probe both the within-tolerance and the
    // too-stale sides of the 10-minute boundary from the SAME state.
    import java.sql.Timestamp
    val tmp = java.nio.file.Files.createTempDirectory("graft_st11_x_").toString
    def ev(id: Long, us: Long, typ: String): EventStreams.Event =
      EventStreams.Event(id, new Timestamp(us / 1000L), 7L, typ, id * 1.5)
    val m = 60L * 1000000L
    Seq(ev(1L, 0L * m, "view")).toDF()
      .coalesce(1).write.parquet(s"$tmp/src")
    val f1 = java.nio.file.Files.list(java.nio.file.Paths.get(s"$tmp/src"))
    try f1.forEach(p => java.nio.file.Files.setLastModifiedTime(p,
      java.nio.file.attribute.FileTime.fromMillis(1000000L)))
    finally f1.close()
    Seq(ev(2L, 5L * m, "click"), ev(3L, 20L * m, "click")).toDF()
      .coalesce(1).write.mode("append").parquet(s"$tmp/src")
    val schema = spark.read.parquet(s"$tmp/src").schema
    val name = "st11_cross_batch_test"
    EventStreams.runAvailableNow(spark, s"$tmp/src", schema,
      df => EventStreams.toleranceAsOfStream(
        df.as[EventStreams.Event], toleranceUs = 600L * 1000000L).toDF(),
      name, maxFilesPerTrigger = Some(1),
      outputMode = org.apache.spark.sql.streaming.OutputMode.Append())
    val got = spark.table(name)
      .collect().map(r => (r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)))).toMap
    // click 2 (t=5min): view 1 from the PREVIOUS batch, fresh enough;
    // click 3 (t=20min): same state row, now 20min stale -> null
    assert(got == Map(2L -> Some(1L), 3L -> None))
  }

  test("K1: partitioned JSON sink writes term directories") {
    val out = java.nio.file.Files.createTempDirectory("k1").toString + "/json"
    graft.etl.Sinks.partitionedJson(
      Seq(("1981", "a"), ("1990", "b")).toDF("term", "v"), out, "term")
    val dirs = new java.io.File(out).listFiles().map(_.getName).filter(_.startsWith("term="))
    assert(dirs.toSet == Set("term=1981", "term=1990"))
    assert(spark.read.json(out).count() == 2)
  }

  test("flatMapGroupsWithState accumulates running user totals") {
    val dir = java.nio.file.Files.createTempDirectory("stream-src2").toString
    batchEvents.filter($"user_id" < 5).write.mode("overwrite").parquet(dir)
    val schema = spark.read.parquet(dir).schema

    val stream = spark.readStream.schema(schema).parquet(dir)
      .as[EventStreams.Event]
    val q = EventStreams.runningUserTotals(stream).writeStream
      .format("memory").queryName("running_test")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // last emitted row per user == the batch totals
    val got = spark.table("running_test")
      .groupBy($"user_id")
      .agg(max(struct($"n_events", $"total_value")).as("s"))
      .select($"user_id", $"s.n_events", $"s.total_value")
      .as[(Long, Long, Double)].collect().map { case (u, n, v) => u -> (n, v) }.toMap
    val want = batchEvents.filter($"user_id" < 5)
      .groupBy($"user_id").agg(count(lit(1)), sum($"value"))
      .as[(Long, Long, Double)].collect().map { case (u, n, v) => u -> (n, v) }.toMap
    assert(got.keySet == want.keySet)
    got.foreach { case (u, (n, v)) =>
      assert(n == want(u)._1, s"user $u count")
      assert(math.abs(v - want(u)._2) < 1e-6, s"user $u value")
    }
  }

  test("stream-stream interval join equals the batch join of the same transform") {
    val cDir = java.nio.file.Files.createTempDirectory("ss-clicks").toString
    val vDir = java.nio.file.Files.createTempDirectory("ss-views").toString
    val clicks = batchEvents.filter($"event_type" === "click")
      .select($"user_id".as("c_user"), $"event_id".as("click_id"), $"ts".as("c_ts"))
    val views = batchEvents.filter($"event_type" === "view")
      .select($"user_id".as("v_user"), $"event_id".as("view_id"), $"ts".as("v_ts"))
    clicks.write.mode("overwrite").parquet(cDir)
    views.write.mode("overwrite").parquet(vDir)

    val joined = EventStreams.clickViewJoin(
      spark.readStream.schema(clicks.schema).parquet(cDir),
      spark.readStream.schema(views.schema).parquet(vDir))
    assert(joined.isStreaming)
    val q = joined.select($"click_id", $"view_id")
      .writeStream.format("memory").queryName("ss_join_test")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()

    val streamed = spark.table("ss_join_test")
      .as[(Long, Long)].collect().toSet
    val batch = EventStreams.clickViewJoin(clicks, views)
      .select($"click_id", $"view_id").as[(Long, Long)].collect().toSet
    assert(streamed == batch && batch.nonEmpty)
  }

  test("streaming snapshot-CDC: sequential dumps diff against the rolling store") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_cdc_seq_").toString
    def snap(rows: Seq[(Long, String, Double)], dir: String): Unit =
      rows.toDF("k", "name", "bal").write.parquet(dir)
    // day 1: keys 1-3; day 2: 2 changed, 3 gone, 4 new
    val day1 = Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0))
    val day2 = Seq((1L, "a", 1.0), (2L, "b", 9.0), (4L, "d", 4.0))
    snap(day1, s"$tmp/src")
    val schema = spark.read.parquet(s"$tmp/src").schema
    def run(): Unit =
      EventStreams.snapshotCdcStream(
        spark.readStream.schema(schema).parquet(s"$tmp/src"),
        Seq("k"), Seq("name", "bal"),
        s"$tmp/store", s"$tmp/ops", s"$tmp/cp").awaitTermination()
    run() // batch 1: empty store -> every key inserts
    val ops1 = spark.read.parquet(s"$tmp/ops")
      .select($"k", $"op").as[(Long, String)].collect().toSet
    assert(ops1 == Set((1L, "I"), (2L, "I"), (3L, "I")))
    // day 2 arrives as NEW files; the same checkpoint processes only them
    day2.toDF("k", "name", "bal").write.mode("append").parquet(s"$tmp/src")
    run()
    val ops2 = spark.read.parquet(s"$tmp/ops")
      .select($"k", $"op").as[(Long, String)].collect().toSet
    assert(ops2 == ops1 ++ Set((2L, "U"), (3L, "D"), (4L, "I")))
    // the store has rolled forward to day 2
    val store = spark.read.parquet(s"$tmp/store")
      .as[(Long, String, Double)].collect().toSet
    assert(store == day2.toSet)
    // replay with the same checkpoint: nothing new to process
    run()
    assert(spark.read.parquet(s"$tmp/ops").count() == ops2.size)
  }

  test("semanticDedupStream maintenance: survivor + assignment folds leave 1-file dirs, output unchanged") {
    def unit(i: Int): Seq[Double] = (0 until 8).map(j => if (j == i) 1.0 else 0.0)
    // 4 sequential micro-batches; later batches repeat earlier unit
    // directions (dropped as prior art) and add fresh ones (survive) —
    // the maintained and unmaintained runs must agree EXACTLY
    val src = java.nio.file.Files.createTempDirectory("semmx-src").toString
    for (b <- 0 until 4)
      (0 until 2).map(i => ((b * 2 + i).toLong, unit((b * 2 + i) % 6)))
        .toDF("vec_id", "embedding")
        .coalesce(1).write.parquet(s"$src/a=$b")
    val schema = spark.read.parquet(s"$src/a=0").schema
    def run(root: String, every: Int): Unit =
      EventStreams.semanticDedupStream(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
          .parquet(s"$src/*"),
        "vec_id", "embedding", s"$root/store", s"$root/survivors",
        s"$root/cp", tau = 0.95, maintainEvery = every).awaitTermination()
    val a = java.nio.file.Files.createTempDirectory("semmx-a").toString
    val b = java.nio.file.Files.createTempDirectory("semmx-b").toString
    // pre-pin the survivor logs at kb=2 (the caller-owned day-zero
    // path): 8 ids over 2 buckets GUARANTEES cross-batch bucket
    // collisions, so the unmaintained run demonstrably accumulates
    // multi-file buckets and the maintained run's fold is non-vacuous
    for (r <- Seq(a, b))
      graft.etl.StoreMeta.pinFamily(spark, s"$r/survivors",
        graft.etl.Sinks.KeyedLogFamily, Map("kb" -> "2", "keys" -> "vec_id"))
    run(a, 2)
    run(b, 0)
    def survivors(root: String) = spark.read.parquet(s"$root/survivors")
      .select("vec_id").as[Long].collect().toSet
    assert(survivors(a) === survivors(b))
    assert(survivors(a).nonEmpty)
    // the maintained run's dirs are folded: ONE data file per survivor
    // log bucket and in every assignment bucket dir (the final slot
    // fired at batch 3, after that batch's own appends)
    assertFoldedBuckets(s"$a/survivors", "survivor log")
    val cbDirs = new java.io.File(s"$a/store/assignments").listFiles()
      .filter(d => d.isDirectory && d.getName.startsWith("__cb="))
    assert(cbDirs.nonEmpty)
    for (d <- cbDirs)
      assert(graft.etl.BucketCompaction.dataFileCount(spark, d.toString) <= 1,
        s"assignment bucket ${d.getName} must be folded")
    // the modulus pin survives the fold
    assert(graft.etl.StoreMeta.readParams(spark, s"$a/store/assignments")
      .exists(_.get("family").contains("semdedup_assignments")))
    // and the unmaintained run really accumulated more files (the
    // fixture exercises the fold, not a vacuous pass)
    assert(new java.io.File(s"$b/survivors").listFiles()
      .filter(d => d.isDirectory && d.getName.startsWith("__kb="))
      .exists(d =>
        graft.etl.BucketCompaction.dataFileCount(spark, d.toString) > 1))
  }

  test("incrementalDedupStream maintenance preserves the signature store's pin across folds") {
    val docs = Tables.documents(spark, sfDir).select($"doc_id", $"text")
    val src = java.nio.file.Files.createTempDirectory("dedmx-src").toString
    docs.filter($"doc_id" < 250).coalesce(1).write.parquet(s"$src/a=1")
    docs.filter($"doc_id" >= 250).coalesce(1).write.mode("append")
      .parquet(s"$src/a=2")
    val schema = spark.read.parquet(s"$src/a=1").schema
    val store = java.nio.file.Files.createTempDirectory("dedmx-st").toString + "/sigs"
    val pairs = java.nio.file.Files.createTempDirectory("dedmx-pr").toString + "/pairs"
    EventStreams.incrementalDedupStream(
      spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
        .parquet(s"$src/*"),
      "doc_id", "text", store, pairs,
      java.nio.file.Files.createTempDirectory("dedmx-cp").toString,
      maintainEvery = 1).awaitTermination()
    // the store folded to one file per bucket AND kept its family pin
    // (the ROOT sidecar is never touched by the per-bucket swaps): a
    // lost pin would turn the next batch's probe into a pre-pin
    // fail-fast against the stream itself
    assertFoldedBuckets(store, "signature store")
    assert(graft.etl.StoreMeta.readParams(spark, store)
      .exists(_.get("family").contains("minhash_signatures")))
    val streamed = spark.read.parquet(pairs)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val oneShot = graft.ops.Dedup.minHashNearDups(docs, "doc_id", "text", 0.8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(streamed === oneShot)
  }

  test("snapshotCdcStream maintenance: the op log folds to one file, content unchanged") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_cdc_mx_").toString
    val day1 = Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0))
    val day2 = Seq((1L, "a", 1.0), (2L, "b", 9.0), (4L, "d", 4.0))
    day1.toDF("k", "name", "bal").write.parquet(s"$tmp/src")
    val schema = spark.read.parquet(s"$tmp/src").schema
    def run(): Unit =
      EventStreams.snapshotCdcStream(
        spark.readStream.schema(schema).parquet(s"$tmp/src"),
        Seq("k"), Seq("name", "bal"),
        s"$tmp/store", s"$tmp/ops", s"$tmp/cp",
        maintainEvery = 1).awaitTermination()
    run()
    day2.toDF("k", "name", "bal").write.mode("append").parquet(s"$tmp/src")
    run()
    val ops = spark.read.parquet(s"$tmp/ops")
      .select($"k", $"op").as[(Long, String)].collect().toSet
    assert(ops === Set((1L, "I"), (2L, "I"), (3L, "I"),
      (2L, "U"), (3L, "D"), (4L, "I")))
    assertFoldedBuckets(s"$tmp/ops", "op log")
  }

  test("scd2Stream maintenance: superseded version dirs prune; the live fold is untouched") {
    import org.apache.spark.sql.functions.col
    val tmp = java.nio.file.Files.createTempDirectory("graft_scd2mx").toString
    import java.nio.file.attribute.FileTime
    val rows = Seq(
      (1L, 10.0, "A", 0), (2L, 5.0, "B", 0),            // v0
      (1L, 11.0, "A", 1),                               // v1: 1 changes, 2 deleted
      (1L, 11.0, "A", 2), (2L, 6.0, "B", 2))            // v2: 2 reappears
    val base = System.currentTimeMillis() - 10
    for (v <- 0 until 3) {
      rows.filter(_._4 == v)
        .toDF("c_custkey", "c_acctbal", "c_mktsegment", "__ver")
        .coalesce(1).write.mode("append").parquet(s"$tmp/src")
      // pin mtimes so file order = version order under maxFilesPerTrigger
      val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(s"$tmp/src"))
      try {
        import scala.jdk.CollectionConverters._
        walk.iterator().asScala
          .filter(java.nio.file.Files.isRegularFile(_))
          .filter(f => java.nio.file.Files
            .getLastModifiedTime(f).toMillis > base + v * 60000L)
          .foreach(f => java.nio.file.Files.setLastModifiedTime(f,
            FileTime.fromMillis(base + v * 60000L)))
      } finally walk.close()
    }
    val schema = spark.read.parquet(s"$tmp/src").schema
    def run(root: String, every: Int): Unit =
      graft.streaming.EventStreams.scd2Stream(
        spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1).parquet(s"$tmp/src"),
        keyCols = Seq("c_custkey"),
        valueCols = Seq("c_acctbal", "c_mktsegment"),
        storeDir = s"$root/store", checkpoint = s"$root/cp",
        maintainEvery = every).awaitTermination()
    val a = java.nio.file.Files.createTempDirectory("scd2mx-a").toString
    val b = java.nio.file.Files.createTempDirectory("scd2mx-b").toString
    run(a, 1)
    run(b, 0)
    def table(root: String) = spark.read.parquet(s"$root/store/ver_2")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(2),
        r.getInt(3), if (r.isNullAt(4)) None else Some(r.getInt(4)))).toSet
    assert(table(a) === table(b))
    assert(table(a).nonEmpty)
    // maintained run: only the live fold and its replay predecessor
    val dirsA = new java.io.File(s"$a/store").listFiles()
      .filter(_.isDirectory).map(_.getName).filter(_.startsWith("ver_")).toSet
    assert(dirsA === Set("ver_1", "ver_2"), s"got $dirsA")
    // unmaintained run keeps the whole chain
    val dirsB = new java.io.File(s"$b/store").listFiles()
      .filter(_.isDirectory).map(_.getName).filter(_.startsWith("ver_")).toSet
    assert(dirsB === Set("ver_0", "ver_1", "ver_2"))
  }

  test("st24 rehearsal: streamed set-sim pair sink equals the batch j11 result") {
    // two real micro-batches: batch 2's docs join batch 1's appended
    // token rows through the store, so cross-batch pairs exercise the
    // one-sided prefix theorem under mid-stream document frequencies —
    // the union must still equal the one-shot batch join exactly
    val st24 = SparkEntry.queries("st24_stream_setsim")(spark, sfDir)
      .collect().toSeq
    val j11 = SparkEntry.queries("j11_setsim_join")(spark, sfDir)
      .collect().toSeq
    assert(st24 == j11, s"st24 ${st24.size} rows vs j11 ${j11.size}")
    assert(st24.nonEmpty)
  }

  test("st25 rehearsal: streamed fuzzy pair sink equals the batch j10 result") {
    // even/odd key split: near-dup names land on OPPOSITE sides of the
    // batch boundary (the synthetic dup ids differ by 1), so most pairs
    // are cross-batch adoptions through the hood index — the normalized
    // union must equal the quadratic-oracle-verified batch join
    val st25 = SparkEntry.queries("st25_stream_fuzzy")(spark, sfDir)
      .collect().toSeq
    val j10 = SparkEntry.queries("j10_fuzzy_join")(spark, sfDir)
      .collect().toSeq
    assert(st25 == j10, s"st25 ${st25.size} rows vs j10 ${j10.size}")
    assert(st25.nonEmpty)
  }

  test("st26 rehearsal: takedown-stream pair sink equals batch dedup over the survivors") {
    val st26 = SparkEntry.queries("st26_stream_takedown")(spark, sfDir)
      .collect().map(_.toString).toSeq
    val docs = Tables.documents(spark, sfDir).select($"doc_id", $"text")
    def pairsOf(df: org.apache.spark.sql.DataFrame) =
      graft.ops.Dedup.minHashNearDups(df, "doc_id", "text", 0.8)
        .select($"id_a", $"id_b",
          graft.functions.Rounding.exactRound($"jaccard", 4).as("jaccard"))
        .orderBy($"id_a", $"id_b").collect().map(_.toString).toSeq
    val survivorsOnly = pairsOf(docs.filter($"doc_id" % 10 =!= 3))
    assert(st26 === survivorsOnly, s"st26 ${st26.size} vs batch ${survivorsOnly.size}")
    assert(st26.nonEmpty)
    // fixture sanity: the delete batch actually removed pairs — the
    // full corpus pairs more than the survivors do
    assert(pairsOf(docs).size > survivorsOnly.size,
      "fixture must plant at least one pair touching a deleted doc")
  }

  test("setSimJoinStream replay + maintenance: pin survives, folds to one file, nothing re-inserts") {
    val docs = Tables.documents(spark, sfDir).select($"doc_id", $"text")
    val src = java.nio.file.Files.createTempDirectory("ss24-src").toString
    docs.filter($"doc_id" < 250).coalesce(1).write.parquet(s"$src/a=1")
    docs.filter($"doc_id" >= 250).coalesce(1).write.mode("append")
      .parquet(s"$src/a=2")
    val schema = spark.read.parquet(s"$src/a=1").schema
    val store = java.nio.file.Files.createTempDirectory("ss24-st").toString + "/tokens"
    val pairs = java.nio.file.Files.createTempDirectory("ss24-pr").toString + "/pairs"
    def run(cp: String): Unit = EventStreams.setSimJoinStream(
      spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
        .parquet(s"$src/*"),
      "doc_id", "text", store, pairs, cp,
      threshold = 0.7, maintainEvery = 1).awaitTermination()
    run(java.nio.file.Files.createTempDirectory("ss24-cp1").toString)
    assertFoldedBuckets(store, "token store")
    assert(graft.etl.StoreMeta.readParams(spark, store)
      .exists(_.get("family").contains("setsim_tokens")))
    val nPairs = spark.read.parquet(pairs).count()
    val nToks = spark.read.parquet(store).count()
    assert(nPairs > 0 && nToks > 0)
    // full replay from a fresh checkpoint: both sinks keyed idempotent
    run(java.nio.file.Files.createTempDirectory("ss24-cp2").toString)
    assert(spark.read.parquet(pairs).count() === nPairs)
    assert(spark.read.parquet(store).count() === nToks)
  }

  test("fuzzyJoinStream replay + maintenance: pin survives, folds to one file, nothing re-inserts") {
    val c = Tables.customer(spark, sfDir).select($"c_custkey", $"c_name")
    val src = java.nio.file.Files.createTempDirectory("fz25-src").toString
    c.filter($"c_custkey" % 2 === 0).coalesce(1).write.parquet(s"$src/a=1")
    c.filter($"c_custkey" % 2 === 1).coalesce(1).write.mode("append")
      .parquet(s"$src/a=2")
    val schema = spark.read.parquet(s"$src/a=1").schema
    val idx = java.nio.file.Files.createTempDirectory("fz25-ix").toString + "/hoods"
    val pairs = java.nio.file.Files.createTempDirectory("fz25-pr").toString + "/pairs"
    def run(cp: String): Unit = EventStreams.fuzzyJoinStream(
      spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
        .parquet(s"$src/*"),
      "c_custkey", "c_name", idx, pairs, cp,
      maxDist = 1, maintainEvery = 1).awaitTermination()
    run(java.nio.file.Files.createTempDirectory("fz25-cp1").toString)
    assertFoldedBuckets(idx, "hood index")
    assert(graft.etl.StoreMeta.readParams(spark, idx)
      .exists(_.get("family").contains("fuzzy_hoods")))
    val nPairs = spark.read.parquet(pairs).count()
    val nHoods = spark.read.parquet(idx).count()
    assert(nPairs > 0 && nHoods > 0)
    run(java.nio.file.Files.createTempDirectory("fz25-cp2").toString)
    assert(spark.read.parquet(pairs).count() === nPairs)
    assert(spark.read.parquet(idx).count() === nHoods)
  }
}
