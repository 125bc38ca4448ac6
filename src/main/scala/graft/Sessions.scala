package graft

import org.apache.spark.sql.SparkSession

/** The single place a graft entry point builds its SparkSession.
  *
  * Centralized so the timestamp contract holds in EVERY session, not just
  * the driver-facing ones (ADVICE r7): [[Tables.tsNormalized]] is only
  * value-preserving when
  *
  *  - `spark.sql.session.timeZone = UTC` — the NTZ→TZ cast reinterprets
  *    wall-clock fields in the session zone, and the generator wrote UTC
  *    wall clocks;
  *  - `spark.sql.legacy.parquet.nanosAsLong = true` — Spark 4 refuses
  *    TIMESTAMP(NANOS) parquet columns outside this flag, and the long it
  *    yields under the flag is what the LongType branch rescales.
  *
  * A session built elsewhere (a pre-r8 measurement tool, say) would either
  * fail to read a nanos regeneration outright or silently shift NTZ values
  * — so tools, pipelines, tests, Bench and Verify all come through here.
  */
object Sessions {

  /** Default parallelism: the driver exports SPARK_GRAFT_CPUS (32 on the
    * bench container); otherwise ALL visible cores. The old fallback of 4
    * silently ran measurement tools at local[4] whenever the env var was
    * missing — a round-9 sf10 graph bench read 5× slow before the gap was
    * caught. An explicit `cpusDefault` (e.g. PlanProbe's 2) still wins
    * over the hardware count. */
  def cpus(default: String = ""): String =
    sys.env.getOrElse("SPARK_GRAFT_CPUS",
      if (default.nonEmpty) default
      else Runtime.getRuntime.availableProcessors().toString)

  /** A local session with the graft config contract applied.
    *
    * `spark.sql.shuffle.partitions` is sized to the core count, not the
    * 200 default: at local[32] on sf0.1 every shuffle fits in 32 healthy
    * partitions, and 200 would fragment post-shuffle stages into
    * sub-window tasks. On a real cluster this knob (and AQE coalescing)
    * is sized to executors × cores instead.
    */
  def local(appName: String,
            cpusDefault: String = "",
            extra: Map[String, String] = Map.empty): SparkSession = {
    val c = cpus(cpusDefault)
    val b = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", s"local[$c]"))
      .appName(appName)
      .config("spark.sql.shuffle.partitions", c)
      // AQE picks the REAL post-shuffle partition count: start wide
      // (8× cores) and let coalescing shrink to ~64MB targets. At
      // sf0.1 every exchange coalesces back to a handful of
      // partitions (no change); at sf100 the corpus-sized aggregates
      // get 256-way parallelism instead of 32 × ~400MB hash maps
      // per task — the GC regime that dominated t20 at the third
      // decade. On a real cluster this is executors × cores × small
      // factor, same rule.
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        (c.toInt * 8).toString)
      // Spark leaves this off, and then AQE never coalesces the final
      // stage of a `.cache()`d plan: a small cached frame keeps all the
      // 8× cores partitions above, so every stage over it runs that many
      // tasks and every sink over it writes up to that many files.
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
    // Dev-only A/B knob (the driver never sets it): semicolon-separated
    // k=v pairs applied BEFORE the caller's `extra`, so measurement
    // tools can flip a conf without a recompile, e.g.
    //   SPARK_GRAFT_EXTRA_CONF='spark.sql.join.preferSortMergeJoin=false'
    // Every applied override is logged to stderr (r17, ADVICE): the
    // knob is applied AFTER the hardcoded correctness-critical confs
    // (UTC session timezone, nanosAsLong), so a lingering env var
    // could otherwise change verify/bench semantics with no trace in
    // the output.
    sys.env.get("SPARK_GRAFT_EXTRA_CONF").foreach(_.split(";").foreach { kv =>
      kv.split("=", 2) match {
        case Array(k, v) if k.trim.nonEmpty =>
          System.err.println(s"[graft] SPARK_GRAFT_EXTRA_CONF override: ${k.trim}=${v.trim}")
          b.config(k.trim, v.trim)
        case _ => ()
      }
    })
    extra.foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
