package graft

import org.apache.spark.sql.functions._
import graft.ops.Dedup

/** The bucket-partitioned component label store (d6c/st19): the merge
  * must stay EXACT (store ≡ one-shot CC rebuild, bit-for-bit), the
  * per-delta WRITE must touch only the buckets holding moved roots /
  * new nodes (untouched bucket files byte-identical), a bucket whose
  * rows all move elsewhere must be deleted (not left stale), and a
  * replayed delta must be a write-free no-op. */
class ComponentStoreSpec extends SparkSpec {
  import spark.implicits._

  private val B = 8

  private def pairs(es: (Long, Long)*) = es.toDF("id_a", "id_b")

  private def labelSet(path: String): Set[(Long, Long)] =
    Dedup.readComponentStore(spark, path)
      .select($"node", $"component").as[(Long, Long)].collect().toSet

  private def rebuild(es: Seq[(Long, Long)]): Set[(Long, Long)] =
    Dedup.connectedComponents(pairs(es: _*), "id_a", "id_b")
      .as[(Long, Long)].collect().toSet

  private def files(path: String): Map[String, Long] = {
    import scala.jdk.CollectionConverters._
    val s = java.nio.file.Files.walk(java.nio.file.Paths.get(path))
    try s.iterator().asScala
      .filter(f => java.nio.file.Files.isRegularFile(f) &&
        f.getFileName.toString.endsWith(".parquet"))
      .map(f => f.toString -> java.nio.file.Files.getLastModifiedTime(f).toMillis)
      .toMap
    finally s.close()
  }

  private def store(base: Seq[(Long, Long)]): String = {
    val p = java.nio.file.Files
      .createTempDirectory("graft_ccbspec").toString + "/labels"
    Dedup.writeComponentStore(
      Dedup.connectedComponents(pairs(base: _*), "id_a", "id_b"), p, B)
    p
  }

  // base components (mod-8 buckets): {10,11} root 10 -> cb 2,
  // {20,21} root 20 -> cb 4, {30,31} root 30 -> cb 6
  private val base = Seq((10L, 11L), (20L, 21L), (30L, 31L))

  test("merge equals the one-shot rebuild and touches only the merged buckets") {
    val p = store(base)
    val before = files(p)
    // delta merges {10,11} with {20,21}; {30,31} untouched
    val delta = Seq((11L, 21L))
    val touched = Dedup.mergeComponentStoreDelta(spark, p, pairs(delta: _*),
      "id_a", "id_b", B)
    assert(labelSet(p) === rebuild(base ++ delta))
    // moved root 20 (cb 4) and surviving root 10 (cb 2) — nothing else
    assert(touched === Seq(2L, 4L))
    val after = files(p)
    val untouchedBefore = before.filter(_._1.contains("cb=6"))
    assert(untouchedBefore.nonEmpty, "fixture must have an untouched bucket")
    untouchedBefore.foreach { case (f, t) =>
      assert(after.get(f).contains(t),
        s"untouched bucket file must stay byte-identical: $f")
    }
  }

  test("a bucket whose rows all move elsewhere is deleted, not left stale") {
    val p = store(base)
    assert(new java.io.File(p, "cb=4").exists())
    Dedup.mergeComponentStoreDelta(spark, p, pairs((11L, 21L)), "id_a", "id_b", B)
    // root 20's rows all re-rooted to 10 (cb 2); cb=4 held nothing else
    assert(!new java.io.File(p, "cb=4").exists(),
      "emptied bucket dir must be removed")
    assert(labelSet(p) === rebuild(base :+ (11L, 21L)))
  }

  test("replaying the same delta is a write-free no-op") {
    val p = store(base)
    val delta = pairs((11L, 21L))
    Dedup.mergeComponentStoreDelta(spark, p, delta, "id_a", "id_b", B)
    val snapshot = files(p)
    val touched = Dedup.mergeComponentStoreDelta(spark, p, delta, "id_a", "id_b", B)
    assert(touched.isEmpty, "replay must find no moved roots and no new nodes")
    assert(files(p) === snapshot, "replay must not rewrite any file")
  }

  test("componentsStreamBucketed fails fast when the label store is behind the checkpoint") {
    import graft.streaming.EventStreams
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_st19gap_spec").toString
    def run(): Unit = {
      val schema = spark.read.parquet(s"$tmp/src").schema
      EventStreams.componentsStreamBucketed(
        spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1).parquet(s"$tmp/src"),
        "doc_id", "text", s"$tmp/store", s"$tmp/lbl", s"$tmp/cp")
        .awaitTermination()
    }
    Seq((1L, "alpha beta gamma delta"), (2L, "alpha beta gamma delta"))
      .toDF("doc_id", "text").repartition(2).write.parquet(s"$tmp/src")
    run() // folds batches 0..1; marker records the last of them
    // simulate a lost/rolled-back label store with the CHECKPOINT
    // intact: the next batch id continues PAST the store's history
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(): Unit
    }
    rm(new java.io.File(s"$tmp/lbl"))
    Seq((3L, "alpha beta gamma delta")).toDF("doc_id", "text")
      .write.mode("append").parquet(s"$tmp/src")
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      run()
    }
    assert(e.getMessage.contains("refusing to fold") ||
      Option(e.getCause).exists(_.getMessage.contains("refusing to fold")),
      s"gap must fail fast, got: ${e.getMessage}")
  }

  test("d7b incremental survivorship equals d7 on real data") {
    val d7 = SparkEntry.queries("d7_dedup_survivors")(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    val d7b = SparkEntry.queries("d7b_incremental_survivors")(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    assert(d7b === d7)
    assert(d7.nonEmpty)
  }

  test("a merge with a mismatched bucket count fail-fasts instead of mis-pruning") {
    val p = store(base) // meta persisted as B
    assert(Dedup.readComponentStoreMeta(spark, p) === Some(B))
    val e = intercept[IllegalArgumentException] {
      Dedup.mergeComponentStoreDelta(spark, p, pairs((11L, 21L)),
        "id_a", "id_b", B * 2)
    }
    assert(e.getMessage.contains("mismatched bucket count"))
    // the store-sized sentinel resolves to the persisted N and merges
    val touched = Dedup.mergeComponentStoreDelta(spark, p, pairs((11L, 21L)),
      "id_a", "id_b")
    assert(touched.nonEmpty && labelSet(p) === rebuild(base :+ (11L, 21L)))
  }

  test("a pre-meta store (labels without _graft_meta) fail-fasts with the recipe") {
    val p = store(base)
    val meta = new java.io.File(p, "_graft_meta")
    assert(meta.exists()); assert(meta.delete())
    val e = intercept[IllegalArgumentException] {
      Dedup.mergeComponentStoreDelta(spark, p, pairs((11L, 21L)), "id_a", "id_b", B)
    }
    assert(e.getMessage.contains("rebucketComponentStore"))
    // stamping the verified N unblocks the merge
    Dedup.writeComponentStoreMeta(spark, p, B)
    Dedup.mergeComponentStoreDelta(spark, p, pairs((11L, 21L)), "id_a", "id_b", B)
    assert(labelSet(p) === rebuild(base :+ (11L, 21L)))
  }

  test("rebucket migration leaves labels bit-identical and re-pins the meta") {
    val p = store(base)
    val before = labelSet(p)
    Dedup.rebucketComponentStore(spark, p, 3)
    assert(Dedup.readComponentStoreMeta(spark, p) === Some(3))
    assert(labelSet(p) === before, "migration must not change any label")
    // dirs follow the new modulus; no parked/staged trees remain
    val parent = new java.io.File(p).getParentFile
    assert(!new java.io.File(parent, "labels__compact_tmp").exists())
    assert(!new java.io.File(parent, "labels__compact_old").exists())
    val dirs = new java.io.File(p).listFiles().filter(_.isDirectory)
      .map(_.getName).filter(_.startsWith("cb=")).toSet
    assert(dirs.forall(_.stripPrefix("cb=").toLong < 3))
    // merges keep working under the new layout without re-passing N
    Dedup.mergeComponentStoreDelta(spark, p, pairs((11L, 21L)), "id_a", "id_b")
    assert(labelSet(p) === rebuild(base :+ (11L, 21L)))
  }

  test("data-sized default buckets floor at 8 for fixture-scale stores") {
    assert(Dedup.dataSizedComponentBuckets(0L) === 8)
    assert(Dedup.dataSizedComponentBuckets(100L) === 8)
    assert(Dedup.dataSizedComponentBuckets(120000000L) === 20)
    assert(Dedup.dataSizedComponentBuckets(Long.MaxValue / 4) === (1 << 14))
    val p = java.nio.file.Files
      .createTempDirectory("graft_ccbspec").toString + "/labels"
    Dedup.writeComponentStore(
      Dedup.connectedComponents(pairs(base: _*), "id_a", "id_b"), p)
    assert(Dedup.readComponentStoreMeta(spark, p) === Some(8))
    assert(labelSet(p) === rebuild(base))
  }

  test("brand-new nodes insert; day-zero store starts empty") {
    val p = java.nio.file.Files
      .createTempDirectory("graft_ccbspec").toString + "/labels"
    // no writeComponentStore: first merge initializes the store
    val t1 = Dedup.mergeComponentStoreDelta(spark, p, pairs((10L, 11L)),
      "id_a", "id_b", B)
    assert(t1.nonEmpty && labelSet(p) === rebuild(Seq((10L, 11L))))
    // second delta: new nodes joining an existing component + a
    // disjoint new component
    val t2 = Dedup.mergeComponentStoreDelta(spark, p,
      pairs((11L, 40L), (50L, 51L)), "id_a", "id_b", B)
    assert(t2.nonEmpty)
    assert(labelSet(p) === rebuild(Seq((10L, 11L), (11L, 40L), (50L, 51L))))
  }
}
