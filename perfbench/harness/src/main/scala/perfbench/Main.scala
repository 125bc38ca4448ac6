package perfbench

import java.io.File
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBridge
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The long-lived driver of the `queries` and `incremental` workloads,
  * and the set-up probe of every workload.
  *
  * One client issues steps one after another (a closed loop). A step is
  * one call of a registered `graft.SparkEntry.queries` function plus an
  * action that executes its whole plan: every column, every row and the
  * final ordering (the `noop` sink). Pass after pass runs until the
  * plan's `seconds` are spent. Work the measurement needs but a user
  * would not wait for (result dumps for the oracle check, pin readout,
  * unpersisting pins, store snapshots) runs between steps and is
  * subtracted from the pass's wall time.
  *
  * Usage: perfbench.Main <plan file>; the plan is `key=value` lines
  * written by perfbench/run.py, the result is one JSON file at `out`.
  */
object Main {
  private final case class StepRec(pass: Int, name: String, phase: String, id: Long,
                                   t0: Double, t1: Double, error: String, dump: String,
                                   pins: Int, pinBytes: Long)
  private final case class PassRec(pass: Int, traced: Boolean, t0: Double, t1: Double,
                                   untimedMs: Double, liveBytes: Long, liveFiles: Long,
                                   cpBytes: Long, written: (Long, Long))

  def main(args: Array[String]): Unit = {
    val plan = Files.readAllLines(Paths.get(args(0))).asScala
      .filter(_.contains("=")).map { l => val i = l.indexOf('='); l.take(i) -> l.drop(i + 1) }
      .toMap
    def list(k: String): Seq[String] =
      plan.getOrElse(k, "").split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val mode = plan("mode")
    val work = Paths.get(plan("work"))
    val tmp = Paths.get(sys.props("java.io.tmpdir"))

    val spark = graft.Sessions.local(s"perfbench-$mode")
    list("modules").foreach(m => Class.forName(s"graft.analytics.$m$$"))
    val registry = graft.SparkEntry.queries
    val readyMs = Trace.now()
    val sc = spark.sparkContext
    val header = Seq(
      s""""setup_ms":${Json.num(readyMs - plan("launch_ms").toDouble)}""",
      s""""master":${Json.str(sc.master)}""",
      s""""default_parallelism":${sc.defaultParallelism}""",
      s""""cpus_env":${Json.str(sys.env.getOrElse("SPARK_GRAFT_CPUS", ""))}""",
      s""""jvm_cpus":${Runtime.getRuntime.availableProcessors()}""",
      s""""stores":[${graft.analytics.StoreCaches.cachedStoreQueries.toSeq.sorted
        .map(Json.str).mkString(",")}]""")

    if (mode == "setup") {
      val oracles = graft.SparkEntry.oracleSql.toSeq.sorted
        .map { case (n, q) => s"${Json.str(n)}:${Json.str(q)}" }.mkString(",\n")
      write(plan("out"), (header :+ s""""oracle":{$oracles}""").mkString("{", ",", "}\n"))
      halt()
    }

    val tracedPasses = list("traced_passes").map(_.toInt).toSet
    val seconds = plan("seconds").toDouble
    val merges = plan.getOrElse("merges", "0").toInt
    val stores = graft.analytics.StoreCaches.cachedStoreQueries
    val dumpRoot = work.resolve("dumps")
    val steps = mutable.ArrayBuffer.empty[StepRec]
    val passes = mutable.ArrayBuffer.empty[PassRec]
    val dumped = mutable.Set.empty[String]
    var seen = Map.empty[String, (Long, Long)] // store file -> (size, mtime)

    def untimed[T](body: => T): (T, Double) = {
      sc.setLocalProperty(Trace.SpanKey, "-1")
      val t0 = Trace.now()
      val r = body
      sc.setLocalProperty(Trace.SpanKey, null)
      (r, Trace.now() - t0)
    }

    def step(pass: Int, name: String, phase: String, dir: String, dump: Boolean): (StepRec, Double) = {
      val id = Trace.newId()
      sc.setLocalProperty(Trace.StepKey, id.toString)
      val buildId = Trace.newId()
      val actionId = Trace.newId()
      var error: String = null
      var df: DataFrame = null
      val t0 = Trace.now()
      var mark = t0
      try {
        sc.setLocalProperty(Trace.SpanKey, buildId.toString)
        df = registry(name)(spark, dir)
        val b1 = Trace.now()
        Trace.add(Span(buildId, id, "build", name, id, t0, b1))
        mark = b1
        sc.setLocalProperty(Trace.SpanKey, actionId.toString)
        df.write.format("noop").mode("overwrite").save()
        Trace.add(Span(actionId, id, "action", name, id, b1, Trace.now()))
      } catch {
        case e: Throwable =>
          error = s"${e.getClass.getName}: ${e.getMessage}".take(400)
          Trace.add(Span(Trace.newId(), id, "failed", name, id, mark, Trace.now()))
      }
      val t1 = Trace.now()
      Trace.add(Span(id, 0L, "step", name, id, t0, t1, Seq("pass" -> pass.toDouble)))
      val ((dumpDir, pins, pinBytes), spent) = untimed {
        val dd =
          if (error == null && dump) {
            val d = dumpRoot.resolve(s"${name}__$phase").toString
            try { df.write.mode("overwrite").parquet(d); d }
            catch { case e: Throwable => error = s"dump: ${e.getMessage}".take(400); null }
          } else null
        // pins still held at the end of the step, read before teardown
        val held = sc.getRDDStorageInfo.filter(_.isCached)
        spark.catalog.clearCache()
        sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
        (dd, held.length, held.map(r => r.memSize + r.diskSize).sum)
      }
      sc.setLocalProperty(Trace.StepKey, null)
      (StepRec(pass, name, phase, id, t0, t1, error, dumpDir, pins, pinBytes), spent)
    }

    /** Files under the program's temp trees (stores, sinks, checkpoints). */
    def storeFiles(): Map[String, (Long, Long)] = {
      val roots = Option(tmp.toFile.listFiles).getOrElse(Array.empty[File])
        .filter(_.getName.startsWith("graft_"))
      roots.flatMap { r =>
        val s = Files.walk(r.toPath)
        try s.iterator.asScala.filter(Files.isRegularFile(_))
          .map(p => p.toString -> (Files.size(p), Files.getLastModifiedTime(p).toMillis)).toList
        finally s.close()
      }.toMap
    }

    def checkpointBytes(files: Map[String, (Long, Long)]): Long = {
      val cps = files.keys.flatMap { f =>
        val i = f.indexOf(File.separator + "offsets" + File.separator)
        if (i > 0) Some(f.take(i + 1)) else None
      }.toSet
      files.collect { case (f, (sz, _)) if cps.exists(f.startsWith) => sz }.sum
    }

    /** The calls of one face in a pass: an incremental store is called
      * cold and then merged; every other face is called once. */
    def calls(name: String, pass: Int): Seq[String] =
      if (mode == "incremental" && stores.contains(name)) "cold" +: Seq.fill(merges)("merge")
      else if (mode == "incremental") Seq("cold")
      else Seq(if (pass == 1) "first" else "repeat")

    // untimed warm-up calls on a dir of their own, each face with the calls
    // a pass makes: the JVM's first Spark jobs pay class loading and JIT
    // that a long-lived session pays once. Only the traced passes record.
    Trace.on = false
    if (list("warmup").nonEmpty) {
      val link = work.resolve("warmup").resolve("sf")
      Files.createDirectories(link.getParent)
      Files.createSymbolicLink(link, Paths.get(plan("sf")))
      for (n <- list("warmup"); _ <- calls(n, 0))
        steps += step(0, n, "warmup", link.toString, dump = false)._1
      Option(tmp.toFile.listFiles).getOrElse(Array.empty[File])
        .filter(_.getName.startsWith("graft_")).foreach(f => deleteTree(f.toPath))
    }
    val order = list("names")
    val rng = new scala.util.Random(plan.getOrElse("seed", "0").toLong)
    val start = Trace.now()
    var pass = 0
    val minPasses = plan.getOrElse("min_passes", "1").toInt
    while (pass < minPasses || (Trace.now() - start) < seconds * 1000) {
      pass += 1
      Trace.on = tracedPasses.contains(pass)
      val names = if (pass == 1 || mode == "incremental") order else rng.shuffle(order)
      // memoized stores and streams are keyed by dir: a fresh path per
      // pass makes every incremental pass start cold
      val link = work.resolve(if (mode == "incremental") s"p$pass" else "p").resolve("sf")
      if (!Files.exists(link, java.nio.file.LinkOption.NOFOLLOW_LINKS)) {
        Files.createDirectories(link.getParent)
        Files.createSymbolicLink(link, Paths.get(plan("sf")))
      }
      val dir = link.toString
      val passId = Trace.newId()
      val p0 = Trace.now()
      var untimedMs = 0.0
      var writtenBytes = 0L
      var writtenFiles = 0L
      for (name <- names) {
        val phases = calls(name, pass)
        phases.zipWithIndex.foreach { case (phase, i) =>
          val dump = !dumped.contains(name) && i == phases.size - 1
          val (rec, spent) = step(pass, name, phase, dir, dump)
          if (rec.dump != null) dumped += name
          steps += rec
          untimedMs += spent
          if (Trace.on && mode == "incremental") {
            val (now, snapMs) = untimed(storeFiles())
            val fresh = now.filter { case (f, v) => !seen.get(f).contains(v) }
            writtenBytes += fresh.values.map(_._1).sum
            writtenFiles += fresh.size
            seen = now
            untimedMs += snapMs
          }
        }
      }
      val p1 = Trace.now()
      val (files, _) = untimed(storeFiles())
      if (Trace.on) PerfbenchBridge.drain(sc)
      Trace.add(Span(passId, 0L, "pass", s"pass$pass", 0L, p0, p1,
        Seq("untimed_ms" -> untimedMs)))
      passes += PassRec(pass, Trace.on, p0, p1, untimedMs, files.values.map(_._1).sum,
        files.size.toLong, checkpointBytes(files), (writtenBytes, writtenFiles))
      Trace.on = false
      // the next incremental pass starts from cleared state: a fresh dir
      // and no temp trees (the memos of this pass are never hit again)
      if (mode == "incremental")
        Option(tmp.toFile.listFiles).getOrElse(Array.empty[File])
          .filter(_.getName.startsWith("graft_")).foreach(f => deleteTree(f.toPath))
      seen = Map.empty
    }
    val oracle = graft.SparkEntry.oracleSql
    val body = (header ++ Seq(
      s""""steps":[${steps.map { s =>
        s"""{"pass":${s.pass},"name":${Json.str(s.name)},"phase":${Json.str(s.phase)},""" +
        s""""id":${s.id},"t0":${Json.num(s.t0)},"t1":${Json.num(s.t1)},""" +
        s""""error":${Json.str(s.error)},"dump":${Json.str(s.dump)},""" +
        s""""pins":${s.pins},"pin_bytes":${s.pinBytes}}"""
      }.mkString(",\n")}]""",
      s""""passes":[${passes.map { p =>
        s"""{"pass":${p.pass},"traced":${p.traced},"t0":${Json.num(p.t0)},""" +
        s""""t1":${Json.num(p.t1)},"untimed_ms":${Json.num(p.untimedMs)},""" +
        s""""live_bytes":${p.liveBytes},"live_files":${p.liveFiles},""" +
        s""""checkpoint_bytes":${p.cpBytes},"written_bytes":${p.written._1},""" +
        s""""written_files":${p.written._2}}"""
      }.mkString(",\n")}]""",
      s""""oracle":{${dumped.toSeq.sorted.flatMap(n => oracle.get(n).map(q =>
        s"${Json.str(n)}:${Json.str(q)}")).mkString(",\n")}}""",
      s""""spans":[${Trace.all().map(_.json).mkString(",\n")}]"""))
      .mkString("{", ",\n", "}\n")
    write(plan("out"), body)
    halt()
  }

  private def write(path: String, body: String): Unit =
    Files.writeString(Paths.get(path), body)

  /** End the JVM once the result is written: a user's session would live
    * on, so its teardown is not part of any step, and the run's
    * directories are deleted by the caller. */
  private def halt(): Nothing = {
    System.out.flush()
    Runtime.getRuntime.halt(0)
    throw new IllegalStateException("unreachable")
  }

  private def deleteTree(p: Path): Unit = {
    val s = Files.walk(p)
    try s.iterator.asScala.toList.reverse.foreach(Files.deleteIfExists)
    finally s.close()
  }
}
