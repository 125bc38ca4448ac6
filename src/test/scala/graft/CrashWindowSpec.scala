package graft

import org.apache.spark.sql.functions._
import graft.streaming.EventStreams

/** The round-16 crash-window closures (r15 ADVICE):
  *
  *  1. a maintenance slot crashed between its park and publish renames
  *     must NOT let the stream re-bootstrap an empty live store (the
  *     silent store-loss window) — every maintained foreachBatch body
  *     heals on entry;
  *  2. the empty-store bootstrap's data-then-pin window (zero-row
  *     parquet, no sidecar) must read as day zero, not permanently
  *     fail-fast the stream against its own store;
  *  3. scd2Stream must refuse to fold over a version gap instead of
  *     silently reopening every interval and pruning the surviving
  *     history.
  */
/** Local filesystem that dies right after the first PARK rename (a
  * rename onto a `*_old` name) while armed: the real staged-swap code
  * runs up to its crash window, whatever names it parks under. */
object CrashAfterPark {
  @volatile var armed = false
}

class CrashAfterParkFs extends org.apache.hadoop.fs.LocalFileSystem {
  override def rename(src: org.apache.hadoop.fs.Path,
                      dst: org.apache.hadoop.fs.Path): Boolean = {
    val ok = super.rename(src, dst)
    if (ok && CrashAfterPark.armed && dst.getName.endsWith("_old")) {
      CrashAfterPark.armed = false
      throw new IllegalStateException(s"simulated crash after parking $src")
    }
    ok
  }
}

class CrashWindowSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** Simulate a whole-store swap crash BETWEEN park and publish: the
    * staged tmp is complete, the live dir is parked, nothing lives at
    * the store path. */
  private def crashMidSwap(store: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(store)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmpP = new org.apache.hadoop.fs.Path(store + "__compact_tmp")
    val oldP = new org.apache.hadoop.fs.Path(store + "__compact_old")
    org.apache.hadoop.fs.FileUtil.copy(fs, p, fs, tmpP, false,
      spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(p, oldP))
    assert(!fs.exists(p))
  }

  test("setSimJoinStream heals a park/publish crash window before bootstrapping") {
    val docs = Tables.documents(spark, sfDir).select($"doc_id", $"text")
    val src = tmp("cw-sj-src")
    val root = tmp("cw-sj")
    val store = s"$root/store"
    val pairs = s"$root/pairs"
    val cp = tmp("cw-sj-cp")
    docs.filter($"doc_id" < 250).coalesce(1).write.parquet(s"$src/a=1")
    val schema = spark.read.parquet(s"$src/a=1").schema
    def run(): Unit = EventStreams.setSimJoinStream(
      spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
        .parquet(s"$src/*"),
      "doc_id", "text", store, pairs, cp,
      threshold = 0.7, maintainEvery = 1).awaitTermination()
    run()
    val storedTokens = spark.read.parquet(store).count()
    assert(storedTokens > 0)
    // crash the slot mid-swap on BOTH flat stores, then deliver batch 2
    crashMidSwap(store)
    crashMidSwap(pairs)
    docs.filter($"doc_id" >= 250).coalesce(1).write.mode("append")
      .parquet(s"$src/a=2")
    run()
    // the heal republished the parked store BEFORE batch 2's bootstrap
    // check: batch 1's token rows are still prior art, so the drained
    // pair sink equals the one-shot batch join (cross-batch pairs found)
    val streamed = spark.read.parquet(pairs)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    val oneShot = graft.ops.SetSimJoin.jaccardJoin(docs, "doc_id", "text", 0.7)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(streamed == oneShot, s"streamed=${streamed.size} oneShot=${oneShot.size}")
    assert(streamed.exists { case (a, b) => (a < 250) != (b < 250) },
      "fixture must exercise at least one cross-batch pair")
    // no crash artifacts left behind
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val leftovers = fs.listStatus(new org.apache.hadoop.fs.Path(root))
      .map(_.getPath.getName).filter(_.contains("__compact_"))
    assert(leftovers.isEmpty, s"leftovers: ${leftovers.mkString(", ")}")
  }

  /** Run `op` with the filesystem crashing right after its first park. */
  private def crashAfterPark(op: => Unit): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.file.impl", classOf[CrashAfterParkFs].getName)
    conf.setBoolean("fs.file.impl.disable.cache", true)
    CrashAfterPark.armed = true
    try {
      val e = intercept[Exception](op)
      assert(e.getMessage.contains("simulated crash"), e.getMessage)
    } finally {
      CrashAfterPark.armed = false
      conf.unset("fs.file.impl")
      conf.unset("fs.file.impl.disable.cache")
    }
  }

  private def swapLeftovers(root: String): Seq[String] = {
    import scala.jdk.CollectionConverters._
    val s = java.nio.file.Files.walk(java.nio.file.Paths.get(root))
    try s.iterator().asScala.map(_.getFileName.toString)
      .filter(n => n.matches(".*__(compact|rebuild|rebucket)_.*")).toList
    finally s.close()
  }

  test("every staged-swap caller lands on the pre- or post-state after a park/publish crash") {
    import graft.ops.{Dedup, Similarity, Takedown, Triangles}
    import graft.etl.{BucketCompaction, Sinks}
    def sorted(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    val ids = (0L until 40L).map(i => (i, s"v$i"))
    val edges = for (a <- 0L until 12L; b <- (a + 1) until 12L
                     if (a * 7 + b) % 3 == 0) yield (a, b)
    val emb = Tables.embeddings(spark, sfDir)
    // (name, build the store under root, operation, next call, rows)
    val cases: Seq[(String, String => Unit, String => Unit, String => Unit,
                    String => Seq[String])] = Seq(
      ("compactStore",
        r => Seq(ids.take(20), ids.drop(20)).foreach(b => Sinks
          .idempotentAppendBucketed(b.toDF("id", "v"), s"$r/log", Seq("id"), 4)),
        r => BucketCompaction.compactStore(spark, s"$r/log", "__kb"): Unit,
        r => BucketCompaction.compactStore(spark, s"$r/log", "__kb"): Unit,
        r => sorted(spark.read.parquet(s"$r/log").select("id", "v"))),
      ("compactEdgeStore",
        { r =>
          val (d, seed) = edges.partition { case (a, b) => (a + b) % 2 == 0 }
          Triangles.writeEdgeStore(seed.toDF("u", "v"), "u", "v", s"$r/e", nBuckets = 2)
          Triangles.appendEdgeStore(Triangles.normalize(d.toDF("u", "v")), s"$r/e")
        },
        r => Triangles.compactEdgeStore(spark, s"$r/e"): Unit,
        r => Triangles.compactEdgeStore(spark, s"$r/e"): Unit,
        r => sorted(spark.read.parquet(s"$r/e").select("a", "b", "o"))),
      ("Takedown.deleteKeys",
        r => Sinks.idempotentAppendBucketed(
          ids.toDF("__id", "v"), s"$r/log", Seq("__id"), 4): Unit,
        r => Takedown.deleteKeys(spark, s"$r/log", "__id",
          Seq(1L, 2L, 3L, 5L, 8L, 13L).toDF("__id")): Unit,
        r => Takedown.deleteKeys(spark, s"$r/log", "__id",
          Seq(1L, 2L, 3L, 5L, 8L, 13L).toDF("__id")): Unit,
        r => sorted(spark.read.parquet(s"$r/log").select("__id", "v"))),
      ("rebuildKnnEdges",
        { r =>
          Similarity.writeKnnGraphStore(emb.filter(col("vec_id") % 10 =!= 3),
            s"$r/knn", graft.analytics.VectorQueries.IvfSeedIds, k = 5, nProbe = 3)
          Similarity.appendKnnGraph(emb.filter(col("vec_id") % 10 === 3),
            s"$r/knn", k = 5, nProbe = 3)
        },
        r => Similarity.rebuildKnnEdges(spark, s"$r/knn", k = 5, nProbe = 3),
        r => Similarity.compactKnnGraphStore(spark, s"$r/knn"): Unit,
        r => sorted(spark.read.parquet(s"$r/knn/edges").select("vec_id", "nbr_id"))),
      ("rebucketComponentStore",
        r => Dedup.writeComponentStore(
          Dedup.connectedComponents(edges.toDF("a", "b"), "a", "b"),
          s"$r/labels", nBuckets = 4),
        r => Dedup.rebucketComponentStore(spark, s"$r/labels", 3),
        r => Dedup.rebucketComponentStore(spark, s"$r/labels", 3),
        r => sorted(Dedup.readComponentStore(spark, s"$r/labels")
          .select("node", "component"))))
    cases.foreach { case (name, build, op, next, rows) =>
      val clean = tmp(s"cw-swap-clean")
      build(clean); op(clean)
      val crashed = tmp(s"cw-swap-crash")
      build(crashed)
      val pre = rows(crashed)
      crashAfterPark(op(crashed))
      next(crashed)
      val got = rows(crashed)
      assert(got == pre || got == rows(clean),
        s"$name: ${got.size} rows, pre ${pre.size}, post ${rows(clean).size}")
      assert(swapLeftovers(crashed).isEmpty,
        s"$name leftovers: ${swapLeftovers(crashed).mkString(", ")}")
    }
  }

  test("requireFamily treats a zero-row unpinned dir as day zero (data-then-pin crash)") {
    val dir = tmp("cw-zerorow") + "/store"
    // the bootstrap's first half: zero-row parquet, crash before the pin
    Tables.documents(spark, sfDir).select($"doc_id").limit(0)
      .write.parquet(dir)
    assert(graft.etl.StoreMeta.hasData(spark, dir))
    // day zero: caller's parameters apply and the caller re-pins
    assert(graft.etl.StoreMeta.requireFamily(spark, dir, "anyfam").isEmpty)
    graft.etl.StoreMeta.pinFamily(spark, dir, "anyfam", Map("k" -> "3"))
    assert(graft.etl.StoreMeta.requireFamily(spark, dir, "anyfam")
      .exists(_.get("k").contains("3")))
    // a dir with ROWS and no sidecar is still a hard pre-pin fail
    val dir2 = tmp("cw-rows") + "/store"
    Seq(1L).toDF("doc_id").write.parquet(dir2)
    val e = intercept[IllegalArgumentException] {
      graft.etl.StoreMeta.requireFamily(spark, dir2, "anyfam")
    }
    assert(e.getMessage.contains("pre-pin layout"))
  }

  test("incrementalDedupStream self-heals the zero-row bootstrap crash window") {
    val docs = Tables.documents(spark, sfDir).select($"doc_id", $"text")
    val src = tmp("cw-zr-src")
    val store = tmp("cw-zr-store") + "/sigs"
    val pairs = tmp("cw-zr-pairs") + "/pairs"
    docs.coalesce(1).write.parquet(s"$src/a=1")
    val schema = spark.read.parquet(s"$src/a=1").schema
    // simulate the crash: the stream's own zero-row store write landed,
    // the pin didn't
    graft.ops.Dedup.minHashPerDoc(docs.limit(0), "doc_id", "text",
      graft.ops.Dedup.DefaultNumHashes, graft.ops.Dedup.DefaultShingleN)
      .write.parquet(store)
    EventStreams.incrementalDedupStream(
      spark.readStream.schema(schema).parquet(s"$src/*"),
      "doc_id", "text", store, pairs, tmp("cw-zr-cp"),
      threshold = 0.8).awaitTermination()
    // the replay re-pinned and processed normally
    val (nh, sn) = graft.ops.Dedup.minHashStoreParams(spark, store)
    assert(nh == graft.ops.Dedup.DefaultNumHashes &&
      sn == graft.ops.Dedup.DefaultShingleN)
    assert(spark.read.parquet(store).count() == docs.count())
  }

  test("scd2Stream fail-fasts on a version gap instead of folding from empty") {
    val c = Tables.customer(spark, sfDir)
      .select($"c_custkey", $"c_name", $"c_acctbal")
    val src = tmp("cw-scd-src")
    val storeDir = tmp("cw-scd-store")
    val cp = tmp("cw-scd-cp")
    def stage(v: Int, df: org.apache.spark.sql.DataFrame): Unit =
      df.withColumn("__ver", lit(v)).coalesce(1)
        .write.mode("append").parquet(s"$src/v=$v")
    def run(): Unit = EventStreams.scd2Stream(
      spark.readStream.schema(spark.read.parquet(s"$src/v=1").schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$src/*"),
      Seq("c_custkey"), Seq("c_name", "c_acctbal"), storeDir, cp,
      maintainEvery = 0).awaitTermination()
    stage(1, c)
    run()
    stage(2, c.withColumn("c_acctbal", $"c_acctbal" + 1))
    run()
    val fs = new org.apache.hadoop.fs.Path(storeDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$storeDir/ver_2")))
    // the gap: ver_2 vanishes while older history survives
    fs.delete(new org.apache.hadoop.fs.Path(s"$storeDir/ver_2"), true)
    stage(3, c.withColumn("c_acctbal", $"c_acctbal" + 2))
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      run()
    }
    assert(e.getMessage.contains("over a gap"), e.getMessage)
    // the surviving real history was NOT pruned by the failed fold
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$storeDir/ver_1")))
  }

  test("appendSemanticAssignments: pin leads data; a sidecar-only dir reads as day zero") {
    def unit(i: Int): Seq[Double] = (0 until 8).map(j => if (j == i) 1.0 else 0.0)
    val corpus = (0L until 8L).map(i => (i, unit(i.toInt)))
      .toDF("vec_id", "embedding")
    val store = tmp("cw-sem") + "/store"
    graft.ops.Similarity.writeSemanticCentroids(corpus, store,
      "vec_id", "embedding")
    // simulate the crash window the pin-leads order leaves: sidecar
    // stamped, no data yet
    graft.etl.StoreMeta.pinFamily(spark, s"$store/assignments",
      "semdedup_assignments", Map("cb" -> "64"))
    // both the probe and the append must treat it as an empty pinned store
    val survivors = graft.ops.Similarity.incrementalSemanticDedup(
      corpus, store, tau = 0.95, "vec_id", "embedding")
    assert(survivors.count() == 8)
    val n = graft.ops.Similarity.appendSemanticAssignments(
      corpus, store, "vec_id", "embedding")
    assert(n == 8)
    assert(spark.read.parquet(s"$store/assignments").count() == 8)
  }
}
