package graft

import org.apache.spark.sql.functions._
import graft.etl.{BucketCompaction, Sinks}

class SinksSpec extends SparkSpec {
  import spark.implicits._

  test("dynamic partition overwrite replaces only the partitions written") {
    val dir = java.nio.file.Files.createTempDirectory("dyn-part").toString + "/t"
    val day1 = Seq((1L, "d1", 10.0), (2L, "d1", 20.0))
      .toDF("id", "day", "v")
    val day2 = Seq((3L, "d2", 30.0)).toDF("id", "day", "v")
    Sinks.overwritePartitions(day1.union(day2), dir, Seq("day"))
    // backfill day2 with corrected values; day1 must survive untouched
    val day2fix = Seq((3L, "d2", 99.0), (4L, "d2", 40.0)).toDF("id", "day", "v")
    Sinks.overwritePartitions(day2fix, dir, Seq("day"))
    val got = spark.read.parquet(dir)
      .select($"id", $"day", $"v").as[(Long, String, Double)]
      .collect().sortBy(_._1).toSeq
    assert(got == Seq((1L, "d1", 10.0), (2L, "d1", 20.0),
      (3L, "d2", 99.0), (4L, "d2", 40.0)))
    // idempotent: re-running the same backfill changes nothing
    Sinks.overwritePartitions(day2fix, dir, Seq("day"))
    assert(spark.read.parquet(dir).count() == 4)
  }

  test("compaction collapses accreted small files, preserving every row") {
    val dir = java.nio.file.Files.createTempDirectory("compact").toString + "/t"
    // simulate 20 tiny appended batches
    (0 until 20).foreach { i =>
      spark.range(i * 10L, i * 10L + 10L).toDF("id")
        .coalesce(1).write.mode("append").parquet(dir)
    }
    val before = spark.read.parquet(dir).as[Long].collect().sorted.toSeq
    val parent = new java.io.File(dir).getParent
    val nBefore = BucketCompaction.dataFileCount(spark, dir)
    assert(BucketCompaction.compactDirs(spark, parent, Seq("t")) == Seq("t"))
    val nAfter = BucketCompaction.dataFileCount(spark, dir)
    val after = spark.read.parquet(dir).as[Long].collect().sorted.toSeq
    assert(nBefore == 20 && nAfter == 1, s"$nBefore -> $nAfter")
    assert(after == before)
  }

  test("run summary escapes quotes, newlines and tabs in metric values") {
    val path = java.nio.file.Files.createTempDirectory("summary").toString + "/s/summary.json"
    Sinks.runSummary(path, scala.collection.immutable.ListMap(
      "rows" -> 42,
      "note" -> "he said \"hi\"\nline2\tend\\",
      "nul" -> "ctl"))
    val body = java.nio.file.Files.readString(java.nio.file.Paths.get(path))
    // must be machine-parseable JSON with the value intact
    val parsed = spark.read.json(Seq(body).toDS())
    val row = parsed.select("rows", "note", "nul").head()
    assert(row.getLong(0) == 42L)
    assert(row.getString(1) == "he said \"hi\"\nline2\tend\\")
    assert(row.getString(2) == "ctl")
  }
}
