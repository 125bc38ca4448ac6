package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{VectorFunctions => VF}

/** Similarity search over embedding columns (`array<float>`).
  *
  * Two paths, one contract (query_id, corpus id, cosine, rank):
  *  - [[bruteForceTopK]] — exact: broadcast the (small) query set
  *    against the full corpus; per-row norms precomputed; one window
  *    per query for the top-k. The baseline, and the verifier for the
  *    approximate paths.
  *  - [[SignRandomProjectionLsh]] — the scale path: bucket the corpus
  *    by an n-bit sign-random-projection signature; queries probe
  *    their own bucket plus all 1-bit-flip neighbors (multi-probe), so
  *    the candidate set is ~corpus/2^bits × (bits+1) instead of the
  *    whole corpus. Hyperplanes derive from a fixed seed —
  *    deterministic across runs.
  *
  * At 100 TB the corpus side stays partitioned by signature (a join
  * key), queries broadcast, and only candidate buckets are read —
  * bucket pruning composes with parquet partition pruning if the
  * corpus is written partitioned by signature.
  */
object Similarity {

  /** Exact cosine top-k: every query row against every corpus row. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                     idCol: String = "vec_id", vecCol: String = "embedding",
                     queryIdCol: String = "query_id"): DataFrame = {
    val c = corpus.select(col(idCol).as("cand_id"),
        col(vecCol).cast("array<double>").as("__cv"))
      .withColumn("__cn", VF.norm(col("__cv")))
    val q = queries.select(col(queryIdCol), col(vecCol).cast("array<double>").as("__qv"))
      .withColumn("__qn", VF.norm(col("__qv")))
    val sims = c.join(broadcast(q), col("cand_id") =!= col(queryIdCol))
      .withColumn("cosine",
        VF.dot(col("__qv"), col("__cv")) / nullif(col("__qn") * col("__cn"), lit(0.0)))
    val w = Window.partitionBy(col(queryIdCol))
      .orderBy(col("cosine").desc, col("cand_id"))
    sims.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(queryIdCol), col("cand_id"), col("cosine"), col("rank"))
  }

  /** Sign-random-projection LSH index parameters. Hyperplane
    * components come from a seeded generator — same seed, same
    * signatures, every run, every engine. */
  final class SignRandomProjectionLsh(dim: Int, nBits: Int = 12, seed: Long = 42L) {
    require(nBits <= 30, "signature must fit an Int")

    /** Index-write exchange cap (r17, ADVICE): one write task per
      * signature dir is the layout goal, but the task count must not
      * scale exponentially with nBits — `1 << 30` would plan a
      * billion exchange partitions. Past the cap each task writes a
      * few dirs serially, which keeps the write dir-parallel without
      * the pathological partition count. At the default nBits=12 the
      * cap is not reached (4096 = 1 << 12). */
    private val maxIndexWriteTasks = 4096
    private def buildWriteTasks: Int = math.min(1 << nBits, maxIndexWriteTasks)

    /** Layout fingerprint pinned into the index's `_graft_meta`
      * sidecar (the d6c/edge-store/BM25 lifecycle guard, applied to
      * the LSH parameters): the signature function — hence the
      * partition layout and every probe's pruning — is a pure
      * function of (dim, nBits, seed), and an instance built with ANY
      * other triple would silently probe the wrong bucket dirs. The
      * fingerprint hashes the triple (stable MurmurHash3 over the
      * three values), so writers pin it and probes/appends fail fast
      * on a mismatch instead of returning plausible-but-wrong
      * neighbors. Indexes written before the guard carry no sidecar
      * and are accepted as-is (the caller owns parameter discipline
      * there, as before). */
    val layoutFingerprint: Int =
      scala.util.hashing.MurmurHash3.orderedHash(Seq(dim, nBits, seed))

    private def requireFingerprint(
        spark: org.apache.spark.sql.SparkSession, path: String): Unit =
      graft.etl.StoreMeta.read(spark, path).foreach(fp =>
        require(fp == layoutFingerprint,
          s"LSH index at $path was written with different (dim, nBits, " +
            s"seed) parameters (fingerprint $fp != $layoutFingerprint) — " +
            "probing or appending with this instance would silently use " +
            "the wrong signature buckets; rebuild or use the original " +
            "parameters"))

    /** hyperplanes(bit)(dim) in [-1, 1). */
    val hyperplanes: Array[Array[Double]] = {
      val rnd = new scala.util.Random(seed)
      Array.fill(nBits, dim)(rnd.nextDouble() * 2 - 1)
    }

    /** Signature column: bit i set iff dot(v, h_i) > 0. Each hyperplane
      * dot is the native codegen'd [[graft.functions.DotProduct]]
      * against an array literal — the HOF formulation
      * (`aggregate(zip_with(...))`) evaluates its lambdas INTERPRETED,
      * which on the corpus side means nBits interpreted dim-element
      * folds per row; the native expression is one tight Java loop per
      * bit inside whole-stage codegen. */
    def signature(vec: Column): Column = {
      val v = vec.cast("array<double>")
      val bits = (0 until nBits).map { i =>
        val h = typedLit(hyperplanes(i).toSeq)
        when(VF.dot(v, h) > 0, lit(1 << i)).otherwise(lit(0))
      }
      bits.reduce(_ + _)
    }

    /** The signature plus its Hamming-ball neighbors (multi-probe):
      * radius 0 = own bucket only, 1 = + all 1-bit flips (the default,
      * nBits+1 probes), 2 = + all 2-bit flips (1 + nBits + C(nBits,2)
      * probes). The probe budget is the ANN recall/cost knob — see the
      * measured recall@k table in PERFORMANCE.md. */
    def probeSignatures(vec: Column, radius: Int = 1): Column = {
      require(radius >= 0 && radius <= 2, "supported probe radius: 0..2")
      val sig = signature(vec)
      val flips1 = (0 until nBits).map(i => sig.bitwiseXOR(lit(1 << i)))
      val flips2 = for { i <- 0 until nBits; j <- i + 1 until nBits }
        yield sig.bitwiseXOR(lit((1 << i) | (1 << j)))
      val probes = sig +: ((if (radius >= 1) flips1 else Nil) ++
        (if (radius >= 2) flips2 else Nil))
      array(probes: _*)
    }

    /** Approximate cosine top-k: candidates share a (probed) bucket. */
    def annTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                idCol: String = "vec_id", vecCol: String = "embedding",
                queryIdCol: String = "query_id",
                probeRadius: Int = 1): DataFrame = {
      val c = corpus.select(col(idCol).as("cand_id"),
          col(vecCol).cast("array<double>").as("__cv"))
        .withColumn("__sig", signature(col("__cv")))
      topKFromSigned(c, queries, k, vecCol, queryIdCol, probeRadius)
    }

    /** Shared probe-join + rank over a corpus that already carries its
      * `__sig` column (computed fresh by [[annTopK]], or restored from
      * the parquet partition column by [[annTopKFromIndex]]). */
    private def topKFromSigned(signedCorpus: DataFrame, queries: DataFrame,
                               k: Int, vecCol: String,
                               queryIdCol: String,
                               probeRadius: Int = 1): DataFrame = {
      val c = signedCorpus.withColumn("__cn", VF.norm(col("__cv")))
      val q = queries.select(col(queryIdCol),
          col(vecCol).cast("array<double>").as("__qv"))
        .withColumn("__sig", explode(probeSignatures(col("__qv"), probeRadius)))
        .withColumn("__qn", VF.norm(col("__qv")))
      val sims = c.join(broadcast(q), Seq("__sig"))
        .filter(col("cand_id") =!= col(queryIdCol))
        .dropDuplicates(queryIdCol, "cand_id") // multi-probe can re-find
        .withColumn("cosine",
          VF.dot(col("__qv"), col("__cv")) / nullif(col("__qn") * col("__cn"), lit(0.0)))
      val w = Window.partitionBy(col(queryIdCol))
        .orderBy(col("cosine").desc, col("cand_id"))
      sims.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= k)
        .select(col(queryIdCol), col("cand_id"), col("cosine"), col("rank"))
    }

    /** Persist the corpus as a DURABLE LSH index: parquet partitioned
      * by the signature, so the signature compute + corpus shuffle are
      * paid ONCE at build and every later query only READS the probed
      * buckets — parquet partition pruning skips the other
      * `2^nBits - (nBits+1)` directories entirely. This is the durable
      * analog of the reference's pgvector index tables
      * (database/lambda/schema.sql:47-63): index once, probe many. */
    def writeIndex(corpus: DataFrame, path: String,
                   idCol: String = "vec_id", vecCol: String = "embedding"): Unit = {
      corpus.select(col(idCol).as("cand_id"),
          col(vecCol).cast("array<double>").as("__cv"))
        .withColumn("__sig", signature(col("__cv")))
        // r16: cluster one write task per signature dir. Without this
        // the scan's task layout drives the write — a single-file
        // corpus scan wrote all 2^nBits partition dirs SERIALLY from
        // one task (measured: the dir-create/footer loop, not the
        // signature compute, dominated s1b_build). 2^nBits is an index
        // property (one task per dir), not a machine constant; the
        // explicit count also keeps AQE from coalescing the tiny
        // fixture-scale exchange back into one serial writer.
        // r17 (ADVICE): capped — the raw 1<<nBits scales exponentially
        // (require allows 30 → 1B exchange partitions); past the cap a
        // task writes a few dirs serially, still dir-parallel enough.
        .repartition(buildWriteTasks, col("__sig"))
        .write.mode("overwrite").partitionBy("__sig").parquet(path)
      // data first: the overwrite deletes the target dir, so a meta
      // written before it would be wiped (the writeEdgeStore order);
      // the crash window (data, no meta) re-runs this unconditional
      // overwrite
      graft.etl.StoreMeta.write(corpus.sparkSession, path, layoutFingerprint)
    }

    /** Append a DELTA of vectors to an existing [[writeIndex]] index —
      * the daily-ingest face the d9/d3c/d11b/j11b stores have, applied
      * to the ANN index: only the delta is signed, and its rows land as
      * NEW files inside their signature partition directories
      * (`mode append` + `partitionBy` — the stored corpus is never
      * re-signed, re-shuffled or rewritten). Because the partition
      * scheme IS the signature, probing after an append is
      * byte-for-byte the same pruned scan as probing a full rebuild:
      * append ≡ rebuild by construction, which is what lets s1c share
      * s1b's oracle verbatim (IncrementalAnnSpec pins both the
      * equivalence and the store-files-untouched contract). At 100 TB
      * the daily cost is sign+write of the delta alone — the signature
      * compute over the historical corpus is never repaid.
      *
      * IDEMPOTENT (the appendKnnGraph/appendBm25Index discipline): a
      * replayed delta appends nothing — without this, a crash-retry
      * would double the replayed rows, and the duplicate candidate
      * would take two ranks in the probe's top-k window and displace
      * a legitimate neighbor. The novelty check is SIGNATURE-PRUNED:
      * a replayed row carries the same vector, hence the same
      * signature, so scanning only the delta's own signature dirs for
      * stored ids is sound — the id read is delta-bucket-sized, not
      * index-sized. (Same id with a DIFFERENT vector is an upsert,
      * not an append — out of this store's contract, like every
      * immutable-artifact store here.) */
    def appendToIndex(delta: DataFrame, path: String,
                      idCol: String = "vec_id",
                      vecCol: String = "embedding"): Unit = {
      val spark = delta.sparkSession
      requireFingerprint(spark, path)
      // pin the fingerprint BEFORE the first data write when this
      // append creates the store (append never deletes the dir, so the
      // sidecar can lead the data; a crash in between leaves a pinned
      // empty store). A legacy index (data, no sidecar) is NOT
      // auto-pinned: locking it to whatever instance happens to append
      // first would make that appender authoritative even when its
      // (dim, nBits, seed) differ from the layout the store was built
      // with — it stays caller-disciplined until a [[writeIndex]]
      // rebuild pins it.
      if (graft.etl.StoreMeta.read(spark, path).isEmpty &&
          !graft.etl.StoreMeta.hasData(spark, path))
        graft.etl.StoreMeta.write(spark, path, layoutFingerprint)
      // the novelty read is pruned to the delta's signature dirs; the
      // write clusters one task per touched dir like [[writeIndex]],
      // sized to the DELTA (r17, ADVICE): 2^nBits-way exchanges (up to
      // 2^30) for a handful of rows were pure planning/scheduling
      // overhead. A hash collision at most makes one task write two
      // dirs serially.
      graft.etl.Sinks.noveltyAppend(
        delta.select(col(idCol).as("cand_id"),
            col(vecCol).cast("array<double>").as("__cv"))
          .withColumn("__sig", signature(col("__cv"))),
        path, Seq("cand_id"), Some("__sig"),
        (novel, nSigs) => novel.repartition(
          math.max(nSigs, 1).min(maxIndexWriteTasks), col("__sig"))): Unit
    }

    /** Approximate cosine top-k against a persisted [[writeIndex]]
      * index. The query set's probe signatures are collected (queries
      * are the small broadcast side by design — same assumption the
      * in-memory path makes) and pushed as a partition-column `IN`
      * filter, so the scan touches only the probed bucket directories
      * (asserted as `PartitionFilters` in SimilaritySpec). */
    def annTopKFromIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                         queries: DataFrame, k: Int,
                         vecCol: String = "embedding",
                         queryIdCol: String = "query_id"): DataFrame = {
      requireFingerprint(spark, path)
      val probeSigs = queries
        .select(explode(probeSignatures(col(vecCol).cast("array<double>"))).as("__s"))
        .distinct().collect().map(_.getInt(0)).toSeq
      val c = spark.read.parquet(path)
        .filter(col("__sig").isin(probeSigs: _*))
      topKFromSigned(c, queries, k, vecCol, queryIdCol)
    }
  }

  /** IVF with a DETERMINISTIC coarse quantizer: the inverted lists are
    * seeded by fixed corpus members (`seedIds`) instead of KMeans
    * centroids, so assignment — nearest seed by cosine, ties to the
    * lower list id — is a pure function of the data and the oracle can
    * replay the whole index build + probe in SQL (the KMeans variant
    * below stays the quality path; its centroids aren't portably
    * reproducible). Same scale shape: the quantizer is a broadcast
    * crossJoin against |seeds| rows, each corpus vector lands in
    * exactly one list, queries probe `nProbe` lists. */
  def ivfTopKSeeded(corpus: DataFrame, queries: DataFrame, k: Int,
                    seedIds: Seq[Long], nProbe: Int = 2,
                    idCol: String = "vec_id", vecCol: String = "embedding",
                    queryIdCol: String = "query_id"): DataFrame = {
    require(seedIds.nonEmpty && nProbe > 0)
    val c0 = corpus.select(col(idCol).as("cand_id"),
      col(vecCol).cast("array<double>").as("__cv"))
    val seeds = c0.filter(col("cand_id").isin(seedIds: _*))
      .select(col("cand_id").as("list_id"), col("__cv").as("__sv"))
    ivfProbe(c0, queries, seeds, k, nProbe, vecCol, queryIdCol)
  }

  /** IVF with a TRAINED (and still oracle-exact) coarse quantizer:
    * the inverted lists are [[KMeans.lloydCentroids]] — quantized
    * Lloyd iterates, so unlike the ML-KMeans variant the centroids
    * ARE portably reproducible and the whole train + build + probe
    * replays in SQL. This closes the seeded-vs-trained gap: s2's
    * "centroids aren't portably reproducible" caveat no longer binds
    * when training runs through the quantized-iterate recipe. */
  def ivfTopKTrained(corpus: DataFrame, queries: DataFrame, k: Int,
                     kClusters: Int, rounds: Int = 2, nProbe: Int = 2,
                     idCol: String = "vec_id", vecCol: String = "embedding",
                     queryIdCol: String = "query_id"): DataFrame = {
    require(kClusters > 0 && nProbe > 0)
    val cents = KMeans.lloydCentroids(corpus, idCol, vecCol, kClusters, rounds)
    val seeds = corpus.sparkSession
      .createDataFrame(cents.map { case (cid, c) => (cid, c.toSeq) })
      .toDF("list_id", "__sv")
    val c0 = corpus.select(col(idCol).as("cand_id"),
      col(vecCol).cast("array<double>").as("__cv"))
    ivfProbe(c0, queries, seeds, k, nProbe, vecCol, queryIdCol)
  }

  /** Shared IVF assign + probe: `seeds` = (list_id, __sv) quantizer
    * rows (corpus members or trained centroids — broadcast either
    * way). */
  private def ivfProbe(c0: DataFrame, queries: DataFrame, seeds0: DataFrame,
                       k: Int, nProbe: Int, vecCol: String,
                       queryIdCol: String): DataFrame = {
    val sims = ivfCandidates(c0, queries, seeds0, nProbe, vecCol, queryIdCol)
    val w = Window.partitionBy(col(queryIdCol))
      .orderBy(col("cosine").desc, col("cand_id"))
    sims.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(queryIdCol), col("cand_id"), col("cosine"), col("rank"))
  }

  /** The IVF SHORTLIST stage alone: corpus assigned to its nearest
    * list, queries probe `nProbe` lists, every (query, candidate)
    * pair in a probed list comes back with its exact cosine — no
    * ranking. This is the stage downstream operators compose with
    * their own selection semantics (hard-negative mining filters the
    * near-duplicate band out BEFORE the argmax; plain ANN ranks it
    * directly).
    *
    * Scale shape: BOTH quantizer assignments are pure maps — the
    * corpus's n=1 via [[graft.functions.NearestCentroid]], the query
    * side's top-nProbe via [[graft.functions.NearestCentroidsTopN]] —
    * over the driver-collected seed matrix (k rows BY CONSTRUCTION:
    * member seeds or trained centroids, the documented bounded-collect
    * class), so no ×k-expanded frame is ever materialized or shuffled
    * (the prior formulation crossJoined broadcast seeds and ranked
    * through a per-vector window — two full exchanges of corpus×k rows
    * carrying vector payloads). The probes join is SIZE-AWARE via
    * `broadcastProbes`: the query faces (s2/s2b — genuinely small
    * query sets) broadcast; the MINING face, whose query set IS the
    * corpus (probes = corpus × nProbe rows with full vectors — an OOM
    * as a broadcast at any real scale), joins by a plain shuffle on
    * `list_id`: both sides exchange once by the list key, the planner/
    * AQE picks SMJ-vs-SHJ-vs-broadcast from MEASURED sizes instead of
    * a hint forcing the driver to collect 5× the corpus. Candidate
    * volume stays nProbe × mean list size per query — never
    * all-pairs. */
  /** Driver-collect of a (list_id, __sv) quantizer frame — bounded by
    * construction (member seeds or trained centroids). */
  private[graft] def collectCents(seeds0: DataFrame): Seq[(Long, Array[Double])] =
    seeds0
      .select(col("list_id").cast("long"), col("__sv").cast("array<double>"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).toSeq

  /** Map-only corpus assignment: (cand_id, __cv) → + (__cn, list_id)
    * via the [[graft.functions.NearestCentroid]] codegen expression
    * over the driver-held quantizer. The ONE place corpus vectors get
    * signed — the k-NN graph store persists this frame so its delta
    * append never re-derives it. */
  private[graft] def assignWithLists(c0: DataFrame,
                                     cents: Seq[(Long, Array[Double])]): DataFrame =
    c0.withColumn("__cn", VF.norm(col("__cv")))
      .withColumn("__best",
        graft.functions.NearestCentroid.nearest(col("__cv"), cents))
      .withColumn("list_id", col("__best.cluster_id"))
      .drop("__best")

  /** Probe frame: each query row exploded to its `nProbe` nearest
    * lists — (queryIdCol, __qv, __qn, list_id). */
  private[graft] def probesFor(queries: DataFrame,
                               cents: Seq[(Long, Array[Double])], nProbe: Int,
                               vecCol: String, queryIdCol: String): DataFrame =
    queries.select(col(queryIdCol),
        col(vecCol).cast("array<double>").as("__qv"))
      .withColumn("__qn", VF.norm(col("__qv")))
      .withColumn("list_id",
        explode(graft.functions.NearestCentroid
          .nearestN(col("__qv"), cents, nProbe)))

  private[graft] def ivfCandidates(c0: DataFrame, queries: DataFrame,
                                   seeds0: DataFrame, nProbe: Int,
                                   vecCol: String,
                                   queryIdCol: String,
                                   broadcastProbes: Boolean = true): DataFrame = {
    val cents = collectCents(seeds0)
    val assigned = assignWithLists(c0, cents)
    val probes = probesFor(queries, cents, nProbe, vecCol, queryIdCol)
    candidatesFromAssigned(assigned, probes, queryIdCol, broadcastProbes,
      nLists = cents.size)
  }

  /** The probe JOIN over a PRE-ASSIGNED corpus frame
    * (cand_id, __cv, __cn, list_id) — shared by [[ivfCandidates]]
    * (which assigns in-flight) and the k-NN graph store's delta
    * append (which reads assignments back from the store: delta-only
    * signing means this stage must NOT re-derive list_id). */
  /** Data-dependent salt-lane default: lanes exist to split LUMPY
    * lists into schedulable units, so the unit count (nLists × lanes)
    * should clear ~8× the shuffle parallelism — and NO salt should be
    * paid when the list count alone already does (the round-11 sweep
    * measured lanes=1 fastest at nLists=448 on 32 cores: probe
    * replication is pure overhead once lists outnumber cores 8:1,
    * while the degenerate 5-list adversary wants every lane it can
    * get). `graft.ivf.saltLanes` still overrides for sweeps. */
  private def laneCount(spark: org.apache.spark.sql.SparkSession,
                        nLists: Int): Int = {
    val conf = spark.conf.get("graft.ivf.saltLanes", "")
    if (conf.nonEmpty) {
      val lanes = conf.toInt
      // a non-positive override would make pmod(·, 0) NULL on the
      // corpus side and explode(0 lanes) drop every probe row — an
      // empty join that reads as a miraculous speedup; fail fast
      require(lanes > 0, s"graft.ivf.saltLanes must be > 0, got $lanes")
      lanes
    } else {
      val parallelism =
        spark.conf.get("spark.sql.shuffle.partitions", "32").toInt
      math.min(8, math.max(1,
        math.ceil(8.0 * parallelism / math.max(1, nLists)).toInt))
    }
  }

  private[graft] def candidatesFromAssigned(assigned: DataFrame,
                                            probes: DataFrame,
                                            queryIdCol: String,
                                            broadcastProbes: Boolean,
                                            nLists: Int): DataFrame = {
    // the mining face FORCES a shuffle hash join (build = the 1×
    // assigned corpus; the nProbe× probes stream): Catalyst's estimate
    // for the probes side inherits the pre-explode scan size, so at
    // mid scales the planner still auto-broadcasts a frame that is
    // really nProbe× bigger — the caller's knowledge (queries ≈
    // corpus) beats the estimator. Both sides use an EXPLICIT-N
    // repartition on list_id rather than the join's implicit
    // ENSURE_REQUIREMENTS exchange: this join EXPANDS (output =
    // nProbe × mean list size per query, ~√n × its input), and AQE's
    // size-based partition coalescing only sees the pre-join shuffle
    // bytes — measured at n=200k it coalesced 32 partitions to ~5 and
    // the 450M-row expansion ran on 5 of 32 cores (thread-dump
    // confirmed; 6× the model's wall time). User-specified
    // repartitions are exempt from coalescing, so the expansion keeps
    // full parallelism; the explicit exchange replaces, not adds to,
    // the join's own.
    // SALT the expansion: list_id alone is a LUMPY distribution key —
    // the key domain is only √n lists, so balls-in-bins over the
    // reducer count is uneven, per-list sizes (Voronoi cells on real
    // data) and per-list PROBE counts (central lists are near more
    // anchors) are both skewed, and one list's expansion is indivisible
    // (measured at n=200k: a 5-task straggler tail holding the stage
    // 3× past the work model). Splitting each list's CANDIDATES into
    // `saltLanes` deterministic lanes and replicating each probe row
    // across lanes makes every (probe, cand) pair appear exactly once
    // (a candidate lives in exactly one lane) while bounding any
    // list's tail at 1/saltLanes of its quadratic work — j12/SkewStudy's
    // output-skew conclusion applied to the mining join. The exchanged
    // probe volume grows ×saltLanes, but it is pre-expansion (n·nProbe
    // rows vs the n·nProbe·listSize join output). Lane count × a finer
    // explicit partition count (×4) also smooths balls-in-bins and
    // gives the scheduler a work-stealing tail.
    val joined =
      if (broadcastProbes) assigned.join(broadcast(probes), Seq("list_id"))
      else {
        val saltLanes = laneCount(assigned.sparkSession, nLists)
        val parts = 4 * assigned.sparkSession.conf
          .get("spark.sql.shuffle.partitions", "32").toInt
        val a2 = assigned.withColumn("__salt",
          pmod(xxhash64(col("cand_id")), lit(saltLanes.toLong)))
        val p2 = probes.withColumn("__salt",
          explode(array((0 until saltLanes).map(i => lit(i.toLong)): _*)))
        a2.repartition(parts, col("list_id"), col("__salt"))
          .hint("shuffle_hash")
          .join(p2.repartition(parts, col("list_id"), col("__salt")),
            Seq("list_id", "__salt"))
          .drop("__salt")
      }
    joined
      .filter(col("cand_id") =!= col(queryIdCol))
      .withColumn("cosine",
        VF.dot(col("__qv"), col("__cv")) / nullif(col("__qn") * col("__cn"), lit(0.0)))
      .select(col(queryIdCol), col("cand_id"), col("cosine"))
  }

  /** Hard-negative mining through the IVF shortlist — the SCALE face
    * of VectorQueries.hardNegatives' bounded scan (v3): every corpus
    * vector is its own anchor, candidates come from the `nProbe`
    * nearest inverted lists (never all-pairs), the near-duplicate band
    * (cosine ≥ `dupThreshold` — the planted copy and self) is filtered
    * OUT, and the per-anchor argmax rides the custom TopKPerGroup
    * operator (bounded heap, partial map-side — no per-anchor sort).
    *
    * At 100 TB: quantizer rides the assignment expressions as
    * reference data (map-only, zero exchanges — no corpus-derived
    * frame is ever broadcast, asserted in HardNegativesSpec); the
    * anchors×nProbe probes frame and the assigned corpus each exchange
    * ONCE, by list_id, into a plain shuffle join. Candidate volume is
    * nProbe × mean list size per anchor; the argmax state is one row
    * per anchor. Recall: a hard negative is by
    * definition NEAR its anchor, which is exactly the vector IVF
    * probing is good at finding — the miss mode is a best negative
    * sitting just past a list boundary, bounded by probing more lists
    * (HardNegativesSpec proves shortlist ≡ bounded scan on the planted
    * fixture at the default nProbe). */
  def hardNegativesIvfSeeded(corpus: DataFrame, seedIds: Seq[Long],
                             nProbe: Int = 2, dupThreshold: Double = 0.99,
                             idCol: String = "vec_id",
                             vecCol: String = "embedding"): DataFrame = {
    require(seedIds.nonEmpty && nProbe > 0)
    val c0 = corpus.select(col(idCol).as("cand_id"),
      col(vecCol).cast("array<double>").as("__cv"))
    val seeds = c0.filter(col("cand_id").isin(seedIds: _*))
      .select(col("cand_id").as("list_id"), col("__cv").as("__sv"))
    hardNegativesFromSeeds(c0, corpus, seeds, nProbe, dupThreshold,
      idCol, vecCol)
  }

  /** [[hardNegativesIvfSeeded]] with a TRAINED coarse quantizer
    * ([[KMeans.lloydCentroids]] — quantized iterates, so still
    * oracle-replayable): balanced lists where the corpus has no
    * convenient member seeds. */
  def hardNegativesIvfTrained(corpus: DataFrame, kClusters: Int,
                              rounds: Int = 2, nProbe: Int = 2,
                              dupThreshold: Double = 0.99,
                              idCol: String = "vec_id",
                              vecCol: String = "embedding"): DataFrame = {
    require(kClusters > 0 && nProbe > 0)
    val cents = KMeans.lloydCentroids(corpus, idCol, vecCol, kClusters, rounds)
    val seeds = corpus.sparkSession
      .createDataFrame(cents.map { case (cid, c) => (cid, c.toSeq) })
      .toDF("list_id", "__sv")
    val c0 = corpus.select(col(idCol).as("cand_id"),
      col(vecCol).cast("array<double>").as("__cv"))
    hardNegativesFromSeeds(c0, corpus, seeds, nProbe, dupThreshold,
      idCol, vecCol)
  }

  private def hardNegativesFromSeeds(c0: DataFrame, corpus: DataFrame,
                                     seeds: DataFrame, nProbe: Int,
                                     dupThreshold: Double, idCol: String,
                                     vecCol: String): DataFrame = {
    val anchors = corpus.select(col(idCol).as("anchor_id"), col(vecCol))
    // the query set IS the corpus here — never broadcast it
    val cands = ivfCandidates(c0, anchors, seeds, nProbe, vecCol, "anchor_id",
        broadcastProbes = false)
      .filter(col("cosine") < dupThreshold)
    TopK.perGroup(cands, Seq("anchor_id"),
        Seq(("cosine", true), ("cand_id", false)), k = 1, rankName = "rn")
      .select(col("anchor_id").as("vec_id"), col("cand_id").as("neg_id"),
        col("cosine"))
  }

  /** k-NN GRAPH build over the whole corpus through the seeded-IVF
    * shortlist — the standard precursor artifact for graph-based
    * semantic dedup, HNSW seeding and graph clustering: every vector's
    * top-`k` approximate neighbors by cosine. Same corpus-scale plan
    * shape as [[hardNegativesIvfSeeded]] (map-only NearestCentroid
    * assignment on both sides, ONE shuffle join by list_id — the query
    * set IS the corpus, so nothing corpus-derived broadcasts — and the
    * bounded-heap TopKPerGroup for the per-anchor selection); k > 1
    * and no dup-band filter are the only differences. Candidate volume
    * stays nProbe × mean list size per vector, never all-pairs. */
  def knnGraphIvfSeeded(corpus: DataFrame, seedIds: Seq[Long], k: Int,
                        nProbe: Int = 2, idCol: String = "vec_id",
                        vecCol: String = "embedding"): DataFrame = {
    require(seedIds.nonEmpty && k > 0 && nProbe > 0)
    val c0 = corpus.select(col(idCol).as("cand_id"),
      col(vecCol).cast("array<double>").as("__cv"))
    val seeds = c0.filter(col("cand_id").isin(seedIds: _*))
      .select(col("cand_id").as("list_id"), col("__cv").as("__sv"))
    val anchors = corpus.select(col(idCol).as("anchor_id"), col(vecCol))
    val cands = ivfCandidates(c0, anchors, seeds, nProbe, vecCol,
      "anchor_id", broadcastProbes = false)
    TopK.perGroup(cands, Seq("anchor_id"),
        Seq(("cosine", true), ("cand_id", false)), k = k, rankName = "rank")
      .select(col("anchor_id").as("vec_id"), col("cand_id").as("nbr_id"),
        col("cosine"), col("rank"))
  }

  /** Persisted k-NN GRAPH store — [[knnGraphIvfSeeded]]'s artifact
    * made DURABLE and INCREMENTAL (the d9/s1c store discipline applied
    * to the graph every graph-based dedup/cluster pipeline keeps
    * fresh). Layout under `path`:
    *
    *  - `seeds/`   — the frozen coarse quantizer (list_id, __sv):
    *    appends MUST assign against the build-time quantizer or
    *    stored list membership silently diverges from probing;
    *  - `members/` — the assigned corpus (cand_id, __cv, __cn,
    *    list_id), parquet partitioned BY list_id — the inverted-list
    *    layout, so an append lands NEW files inside list directories
    *    and the stored corpus is never re-signed, re-shuffled or
    *    rewritten;
    *  - `edges/`   — (vec_id, nbr_id, cosine, rank), the top-k
    *    neighbor rows.
    *
    * Build derives the edges from the STORED members frame (one
    * assignment pass feeds both artifacts), probing like the mining
    * face: map-only assignment, one salted shuffle join by list_id,
    * bounded-heap TopKPerGroup. */
  def writeKnnGraphStore(corpus: DataFrame, path: String, seedIds: Seq[Long],
                         k: Int, nProbe: Int = 2, idCol: String = "vec_id",
                         vecCol: String = "embedding"): Unit = {
    require(seedIds.nonEmpty && k > 0 && nProbe > 0)
    val spark = corpus.sparkSession
    val c0 = corpus.select(col(idCol).as("cand_id"),
      col(vecCol).cast("array<double>").as("__cv"))
    val seeds = c0.filter(col("cand_id").isin(seedIds: _*))
      .select(col("cand_id").as("list_id"), col("__cv").as("__sv"))
    seeds.write.mode("overwrite").parquet(s"$path/seeds")
    val cents = collectCents(seeds)
    assignWithLists(c0, cents)
      .repartition(col("list_id"))
      .write.mode("overwrite").partitionBy("list_id").parquet(s"$path/members")
    val members = readMembers(spark, path)
    val probes = probesFor(
      corpus.select(col(idCol).as("anchor_id"), col(vecCol)), cents,
      nProbe, vecCol, "anchor_id")
    knnEdges(members, probes, k, cents.size)
      .write.mode("overwrite").parquet(s"$path/edges")
    // pin the store's graph parameters (r14 — the sketch-store
    // discipline): k and nProbe shape every stored edge row, and the
    // list count pins the frozen quantizer's size. Data first: the
    // artifact overwrites above touch only SUBDIRS, so the root
    // sidecar survives a later in-place rebuild.
    graft.etl.StoreMeta.pinFamily(spark, path, "knn", Map(
      "k" -> k.toString, "n_probe" -> nProbe.toString,
      "n_lists" -> cents.size.toString))
  }

  /** Fail-fast guard for every operation against a pinned knn store:
    * a caller k/nProbe that disagrees with the pin would silently mix
    * differently-shaped neighbor sets (append) or swap the graph for
    * a differently-parameterized one (rebuild); a quantizer whose
    * collected size disagrees with the pinned list count means the
    * seeds dir was clobbered after the build. A store with data but
    * no sidecar is pre-pin and fail-fasts with the migration recipe
    * (etl.StoreMeta.requireFamily). */
  private def requireKnnParams(spark: org.apache.spark.sql.SparkSession,
                               path: String, k: Int, nProbe: Int,
                               nLists: Int): Unit =
    graft.etl.StoreMeta.requireFamily(spark, path, "knn").foreach { m =>
      require(m.get("k").forall(_ == k.toString) &&
          m.get("n_probe").forall(_ == nProbe.toString),
        s"knn graph store at $path is pinned to k=${m.getOrElse("k", "?")} " +
          s"nProbe=${m.getOrElse("n_probe", "?")} but the caller passed " +
          s"k=$k nProbe=$nProbe — mismatched parameters silently corrupt " +
          "the neighbor sets; rebuild through writeKnnGraphStore to " +
          "re-parameterize")
      require(m.get("n_lists").forall(_ == nLists.toString),
        s"knn graph store at $path pins ${m.getOrElse("n_lists", "?")} " +
          s"quantizer lists but the seeds dir holds $nLists — the frozen " +
          "quantizer was modified after the build; restore it or rebuild")
    }

  /** Fold the knn store's append-accumulated small files
    * (etl.BucketCompaction): every `list_id=` member dir and the edge
    * dir rewrite to ONE file each, bounding a probe's footer reads at
    * O(probed lists) however many appends built the store. Row
    * preserving — probes, staleness and rebuilds over the compacted
    * store are unchanged (KnnGraphStoreSpec), and knn1b gates on its
    * oracle verbatim over a compacted store. Run as the store's owner
    * between appends; the staged swap shares heal-on-entry with the
    * BM25/edge stores. */
  def compactKnnGraphStore(spark: org.apache.spark.sql.SparkSession,
                           path: String): Seq[String] =
    graft.etl.BucketCompaction.compactStore(spark, s"$path/members", "list_id")
      .map(d => s"members/$d") ++
      graft.etl.BucketCompaction.compactDirs(spark, path, Seq("edges"))

  /** Append a DELTA of vectors to a [[writeKnnGraphStore]] store:
    * the delta alone is signed against the frozen quantizer (ONE
    * map-only pass — the stored members arrive pre-assigned from
    * parquet, pinned by KnnGraphStoreSpec's single-assignment plan
    * assert), its member rows land as NEW files inside their list
    * directories, and the delta anchors acquire neighbors from their
    * `nProbe` probed lists over the corpus-so-far (stored members ∪
    * this delta). Stored edges are NOT revisited — an old vector
    * keeps its build-time neighbors (the one-directional freshness
    * every incremental ANN graph accepts; a periodic rebuild
    * refreshes the back-edges). At 100 TB the daily cost is
    * sign+probe of the delta alone: the historical corpus is never
    * re-signed, and the candidate volume is nProbe × mean list size
    * per DELTA anchor.
    *
    * The append is IDEMPOTENT and crash-recoverable (the
    * Sinks.idempotentAppend discipline, keyed independently per
    * artifact): member rows dedup against the store on cand_id —
    * a replayed batch cannot duplicate members, which would otherwise
    * let one neighbor fill several top-k edge slots on every later
    * probe — and edge rows dedup on vec_id, so a crash BETWEEN the
    * member append and the edge write is healed by the retry (members
    * skip, edges derive for exactly the anchors still missing them,
    * probing the post-append members as the crashed run would have).
    * An anchor's k edge rows land atomically: TopKPerGroup's output is
    * partitioned by the anchor key, so they share one output file. */
  def appendKnnGraph(delta: DataFrame, path: String, k: Int,
                     nProbe: Int = 2, idCol: String = "vec_id",
                     vecCol: String = "embedding"): Unit = {
    val spark = delta.sparkSession
    // a crashed edge swap leaves `edges` parked beside the members
    graft.etl.BucketCompaction.heal(spark, path)
    val cents = collectCents(spark.read.parquet(s"$path/seeds"))
    requireKnnParams(spark, path, k, nProbe, cents.size)
    // assign the WHOLE delta once (a map-only pass against the frozen
    // broadcast quantizer): the assignment is deterministic, so a
    // previously-appended delta row sits in exactly its own assigned
    // list dir — which makes the member novelty read LIST-PRUNED
    // (Sinks.noveltyAppend on the layout the store already has):
    // O(delta's lists), never the full member table
    graft.etl.Sinks.noveltyAppend(
      assignWithLists(
        delta.select(col(idCol).as("cand_id"),
          col(vecCol).cast("array<double>").as("__cv")), cents),
      s"$path/members", Seq("cand_id"), Some("list_id"),
      (novel, _) => novel.repartition(col("list_id"))): Unit
    val (missing, mm) = graft.etl.ObservedPin(
      delta.join(spark.read.parquet(s"$path/edges")
          .select(col("vec_id").as(idCol)).distinct(),
        Seq(idCol), "left_anti"),
      Seq(count(lit(1)).as("__n")))
    if (mm.map(graft.etl.ObservedPin.long(_, "__n"))
        .getOrElse(missing.count()) > 0)
      deltaKnnEdges(missing, path, k, nProbe, idCol, vecCol, Some(cents))
        .localCheckpoint()
        .write.mode("append").parquet(s"$path/edges")
  }

  /** The delta-append edge frame (exposed for the spec's plan
    * assert): probes from the delta anchors, candidates from the
    * stored members parquet — which at this point already includes
    * the delta's own member rows, so two delta vectors can be each
    * other's neighbors, exactly like a rebuild would see them.
    * `quantizer` lets [[appendKnnGraph]] pass its already-collected
    * seed frame so an append reads + collects the frozen quantizer
    * exactly once. */
  private[graft] def deltaKnnEdges(delta: DataFrame, path: String, k: Int,
                                   nProbe: Int, idCol: String,
                                   vecCol: String,
                                   quantizer: Option[Seq[(Long, Array[Double])]] = None): DataFrame = {
    val spark = delta.sparkSession
    val cents = quantizer.getOrElse(
      collectCents(spark.read.parquet(s"$path/seeds")))
    val probes = probesFor(
      delta.select(col(idCol).as("anchor_id"), col(vecCol)), cents,
      nProbe, vecCol, "anchor_id")
    knnEdges(readMembers(spark, path), probes, k, cents.size)
  }

  /** BACK-EDGE REFRESH for the k-NN graph store — the maintenance
    * face that completes the store's lifecycle the way compaction
    * completes the sink's. [[appendKnnGraph]]'s contract is
    * one-directional freshness: stored anchors keep their build-time
    * neighbors, so edges go STALE as appended vectors land in probed
    * lists. This pays the debt: every anchor's edges recompute from
    * the STORED members — no re-signing (members arrive pre-assigned;
    * probes re-derive from the frozen quantizer over the stored
    * vectors), so the cost is the probe join + top-k alone — and the
    * edge dir swaps through the shared staged swap
    * (etl.BucketCompaction.swap). A crash during the (long) rebuild
    * write leaves the old edges fully intact; a crash inside the
    * (instant) park/publish window leaves `edges__compact_old` beside
    * the complete staged copy, which the next heal — on entry to this,
    * [[appendKnnGraph]] or [[compactKnnGraphStore]] — publishes.
    * Member and seed files are untouched
    * (KnnGraphStoreSpec). After a rebuild the store equals a
    * from-scratch build over the accumulated corpus bit-for-bit —
    * knn1c gates on knn1's oracle VERBATIM on exactly this
    * argument. */
  def rebuildKnnEdges(spark: org.apache.spark.sql.SparkSession, path: String,
                      k: Int, nProbe: Int = 2): Unit = {
    requireKnnParams(spark, path, k, nProbe,
      collectCents(spark.read.parquet(s"$path/seeds")).size)
    graft.etl.BucketCompaction.heal(spark, path)
    graft.etl.BucketCompaction.swap(spark,
      new org.apache.hadoop.fs.Path(s"$path/edges")) { tmp =>
      freshKnnEdges(spark, path, k, nProbe)
        .write.mode("overwrite").parquet(tmp.toString)
    }
  }

  /** STALENESS metric for the stored edges: the fraction of (sampled)
    * anchors whose CURRENT top-k neighbor set differs from the stored
    * one — the readout that decides when [[rebuildKnnEdges]] is due.
    * `sampleFrac` < 1 probes a deterministic hash-sample of anchors
    * (cost = frac × a rebuild's probe join; at 10¹¹ vectors the
    * metric must not cost the refresh it schedules). Returns one row:
    * (n_anchors, n_stale, stale_frac). */
  def knnGraphStaleness(spark: org.apache.spark.sql.SparkSession, path: String,
                        k: Int, nProbe: Int = 2,
                        sampleFrac: Double = 1.0): DataFrame = {
    require(sampleFrac > 0 && sampleFrac <= 1.0)
    requireKnnParams(spark, path, k, nProbe,
      collectCents(spark.read.parquet(s"$path/seeds")).size)
    val keep = pmod(xxhash64(col("vec_id")), lit(10000L)) <
      lit((sampleFrac * 10000).toLong)
    val cur = freshKnnEdges(spark, path, k, nProbe, Some(keep))
      .select(col("vec_id"), col("nbr_id"))
      .localCheckpoint() // feeds two anti-joins + the anchor spine
    val stored = spark.read.parquet(s"$path/edges")
      .filter(keep).select(col("vec_id"), col("nbr_id"))
      .localCheckpoint() // read once: feeds two anti-joins
    val staleIds = cur.join(stored, Seq("vec_id", "nbr_id"), "left_anti")
      .select(col("vec_id"))
      .unionByName(stored.join(cur, Seq("vec_id", "nbr_id"), "left_anti")
        .select(col("vec_id")))
      .distinct()
    // spine = the sampled MEMBER anchors (cur derives from members),
    // not the stored edges: an anchor with members but no edge rows —
    // a crashed append's stalest possible state — must count as stale,
    // and a store whose edges are empty must read 100% stale, not
    // silently shrink the denominator
    cur.select(col("vec_id")).distinct()
      .join(staleIds.withColumn("__stale", lit(1)), Seq("vec_id"), "left")
      .agg(count(lit(1)).as("n_anchors"),
        coalesce(sum(col("__stale")), lit(0L)).as("n_stale"))
      .withColumn("stale_frac", // 0 sampled anchors reads 0.0, not null
        when(col("n_anchors") > 0, col("n_stale") / col("n_anchors"))
          .otherwise(lit(0.0)))
  }

  /** The rebuild frame: stored members as both corpus and (optionally
    * filtered) anchor set, probed through the frozen quantizer. */
  private def freshKnnEdges(spark: org.apache.spark.sql.SparkSession,
                            path: String, k: Int, nProbe: Int,
                            anchorFilter: Option[Column] = None): DataFrame = {
    val members = readMembers(spark, path)
    val cents = collectCents(spark.read.parquet(s"$path/seeds"))
    val anchors0 = members.select(col("cand_id").as("vec_id"), col("__cv"))
    val anchors = anchorFilter.map(anchors0.filter).getOrElse(anchors0)
    val probes = probesFor(
      anchors.select(col("vec_id").as("anchor_id"), col("__cv")),
      cents, nProbe, "__cv", "anchor_id")
    knnEdges(members, probes, k, cents.size)
  }

  /** Members scan: the partition column comes back type-inferred, so
    * pin it to long before any join against probe list ids. */
  private def readMembers(spark: org.apache.spark.sql.SparkSession,
                          path: String): DataFrame =
    spark.read.parquet(s"$path/members")
      .withColumn("list_id", col("list_id").cast("long"))

  private def knnEdges(members: DataFrame, probes: DataFrame, k: Int,
                       nLists: Int): DataFrame = {
    val cands = candidatesFromAssigned(members, probes, "anchor_id",
      broadcastProbes = false, nLists = nLists)
    TopK.perGroup(cands, Seq("anchor_id"),
        Seq(("cosine", true), ("cand_id", false)), k = k, rankName = "rank")
      .select(col("anchor_id").as("vec_id"), col("cand_id").as("nbr_id"),
        col("cosine"), col("rank"))
  }

  /** COMPRESSED-INDEX hard-negative mining (v3c) — the memory story
    * that survives when raw vectors are 4·dim bytes × 10¹¹ docs and
    * the [[hardNegativesFromSeeds]] shortlist's working set (raw
    * corpus on BOTH join sides) no longer fits: the resident index
    * side carries only the m-byte PQ codes.
    *
    * Pipeline: seeded-IVF probe (map-only assignment, identical to
    * v3b) → ADC pre-rank over the CODES (the corpus side of the
    * shuffle join is (cand_id, list_id, codes) — m small ints per
    * vector instead of 4·dim·8 bytes raw) → bounded-heap top-`rerank`
    * per anchor → EXACT re-rank of only those survivors (two
    * output-sized equi-joins fetch the R·n raw vectors — the classic
    * fetch-for-rerank IO) → near-duplicate band filtered on the exact
    * cosine → argmax. The dup filter must run on the EXACT similarity
    * (quantization error around the 0.99 band would otherwise
    * misclassify twins), which is why it sits after the re-rank, and
    * why `rerank` needs headroom for the dup rows it will discard
    * (the planted fixture has 1 dup per anchor; rerank defaults to 10).
    *
    * Both quantizers are seeded corpus members ([[ivfTopKSeeded]]'s
    * lists, [[Quantize.pqTopK]]'s codebook), so the entire pipeline —
    * assignment, encode, ADC, re-rank, argmax — replays exactly in the
    * SQL oracle. Recall-vs-brute measured in PERFORMANCE.md. */
  def hardNegativesPqSeeded(corpus: DataFrame, ivfSeedIds: Seq[Long],
                            pqSeedIds: Seq[Long], nProbe: Int = 2,
                            rerank: Int = 10, dupThreshold: Double = 0.99,
                            m: Int = 8, subDim: Int = 8,
                            idCol: String = "vec_id",
                            vecCol: String = "embedding"): DataFrame = {
    import graft.functions.{NearestCentroid, ProductQuantizer}
    require(ivfSeedIds.nonEmpty && pqSeedIds.nonEmpty && nProbe > 0 && rerank > 0)
    val c0 = corpus.select(col(idCol).as("cand_id"),
      col(vecCol).cast("array<double>").as("__cv"))
    // both quantizers are bounded collects (|seeds| rows by
    // construction) — fetched in ONE corpus scan (r17; was one scan
    // per quantizer) and split driver-side. Determinism is unchanged:
    // NearestCentroid sorts its seed table by id internally, and the
    // PQ codebook keeps the id-ascending order the old
    // orderBy(cand_id) produced.
    val seedRows: Map[Long, Array[Double]] = c0
      .filter(col("cand_id").isin((ivfSeedIds ++ pqSeedIds).distinct: _*))
      .select(col("cand_id"), col("__cv"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    val cents: Seq[(Long, Array[Double])] =
      ivfSeedIds.flatMap(id => seedRows.get(id).map(id -> _))
    val pqSeeds = pqSeedIds.sorted.flatMap(seedRows.get)
    require(pqSeeds.nonEmpty, s"no PQ seed vectors found for ids $pqSeedIds")
    val kw = pqSeeds.length
    val cb = ProductQuantizer.flatten(pqSeeds, m, subDim)
    // index side: list + codes only — no raw vectors travel
    val assigned = c0
      .withColumn("__best", NearestCentroid.nearest(col("__cv"), cents))
      .select(col("cand_id"), col("__best.cluster_id").as("list_id"),
        ProductQuantizer.encode(col("__cv"), cb, m, kw, subDim).as("__codes"))
    val anchors = c0
      .select(col("cand_id").as("anchor_id"), col("__cv").as("__qv"))
      .withColumn("list_id",
        explode(NearestCentroid.nearestN(col("__qv"), cents, nProbe)))
    // shuffle hash join, build = the codes-only index side (see
    // ivfCandidates' mining-face rationale; here the build side is the
    // compressed index — m bytes/vector — so the per-partition build
    // is small BY DESIGN, which is the whole point of v3c). Explicit-N
    // repartitions for the same reason as ivfCandidates' mining face:
    // the join expands ~√n×, and AQE's input-sized coalescing would
    // strangle the expansion's parallelism.
    val adcParts = c0.sparkSession.conf
      .get("spark.sql.shuffle.partitions", "32").toInt
    val adc = assigned.repartition(adcParts, col("list_id"))
      .hint("shuffle_hash")
      .join(anchors.repartition(adcParts, col("list_id")), Seq("list_id"))
      .filter(col("cand_id") =!= col("anchor_id"))
      .select(col("anchor_id"), col("cand_id"),
        ProductQuantizer.adcDist(col("__qv"), col("__codes"), cb, m, kw, subDim)
          .as("adc_dist"))
    val short = TopK.perGroup(adc, Seq("anchor_id"),
        Seq(("adc_dist", false), ("cand_id", false)), k = rerank,
        rankName = "__rr")
      .select(col("anchor_id"), col("cand_id"))
    val qv = c0.select(col("cand_id").as("anchor_id"), col("__cv").as("__qv"))
      .withColumn("__qn", VF.norm(col("__qv")))
    val cv = c0.withColumn("__cn", VF.norm(col("__cv")))
    val exact = short.join(cv, Seq("cand_id")).join(qv, Seq("anchor_id"))
      .withColumn("cosine",
        VF.dot(col("__qv"), col("__cv")) / nullif(col("__qn") * col("__cn"), lit(0.0)))
      .filter(col("cosine") < dupThreshold)
      .select(col("anchor_id"), col("cand_id"), col("cosine"))
    TopK.perGroup(exact, Seq("anchor_id"),
        Seq(("cosine", true), ("cand_id", false)), k = 1, rankName = "rn")
      .select(col("anchor_id").as("vec_id"), col("cand_id").as("neg_id"),
        col("cosine"))
  }

  /** IVF-style ANN: corpus assigned to KMeans centroids; queries search
    * the `nProbe` nearest inverted lists. The coarse quantizer is tiny
    * and broadcast; the corpus shuffles once at index build. */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int, nLists: Int = 16,
              nProbe: Int = 3, idCol: String = "vec_id",
              vecCol: String = "embedding", queryIdCol: String = "query_id",
              seed: Long = 42L): DataFrame = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val c0 = corpus.select(col(idCol).as("cand_id"),
      col(vecCol).cast("array<double>").as("__cv"))
    val km = new KMeans().setK(nLists).setSeed(seed)
      .setFeaturesCol("__vec").setPredictionCol("list_id")
      .fit(c0.withColumn("__vec", array_to_vector(col("__cv"))))
    val assigned = km.transform(c0.withColumn("__vec", array_to_vector(col("__cv"))))
      .select(col("cand_id"), col("__cv"), col("list_id"))
      .withColumn("__cn", VF.norm(col("__cv")))
    val centroids = km.clusterCenters.zipWithIndex.map { case (v, i) => (i, v.toArray) }
    val centDf = corpus.sparkSession.createDataFrame(centroids)
      .toDF("list_id", "centroid")
    val q0 = queries.select(col(queryIdCol), col(vecCol).cast("array<double>").as("__qv"))
    // nProbe nearest centroids per query
    val qLists = q0.crossJoin(broadcast(centDf))
      .withColumn("cdist", VF.sqDist(col("__qv"), col("centroid")))
      .withColumn("crank", row_number().over(
        Window.partitionBy(col(queryIdCol)).orderBy(col("cdist"), col("list_id"))))
      .filter(col("crank") <= nProbe)
      .select(col(queryIdCol), col("__qv"), col("list_id"))
      .withColumn("__qn", VF.norm(col("__qv")))
    val sims = assigned.join(broadcast(qLists), Seq("list_id"))
      .filter(col("cand_id") =!= col(queryIdCol))
      .withColumn("cosine",
        VF.dot(col("__qv"), col("__cv")) / nullif(col("__qn") * col("__cn"), lit(0.0)))
    val w = Window.partitionBy(col(queryIdCol))
      .orderBy(col("cosine").desc, col("cand_id"))
    sims.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(queryIdCol), col("cand_id"), col("cosine"), col("rank"))
  }

  /** SemDeDup-style SEMANTIC dedup (Abbas et al. 2023, arXiv
    * 2303.09540): assign every vector to its nearest seeded centroid,
    * then drop a vector when a same-cluster neighbor at cosine ≥ tau is
    * closer to the centroid (ties to the smaller id). The cluster
    * assignment bounds the quadratic: pairs are only formed WITHIN a
    * cluster, so with √n centroids the pair count is n·(cluster size)
    * instead of n² — that is the published recipe's entire scale trick,
    * and the shuffle is one hash exchange on cluster id (vectors travel
    * once). The deterministic seeded quantizer (same as [[ivfTopKSeeded]])
    * keeps the whole operator oracle-replayable in SQL.
    *
    * Returns the SURVIVORS: (id, cluster_id, centroid_sim). */
  def semanticDedup(corpus: DataFrame, seedIds: Seq[Long], tau: Double,
                    idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(seedIds.nonEmpty)
    semanticDedupBy(corpus, _.isin(seedIds: _*), tau, idCol, vecCol)
  }

  /** [[semanticDedup]] with a DATA-SCALING seed rule: every `seedEvery`-th
    * id is a centroid, so the centroid count grows linearly with the
    * corpus and the expected cluster size stays ~`seedEvery` at ANY
    * scale — the pair count is n·seedEvery, never n²/constant. (A fixed
    * seed LIST is the t18-style mistake: at 100× data each cluster is
    * 100× bigger and the within-cluster quadratic explodes.) The rule is
    * a pure function of the id, so the oracle replays it with
    * `WHERE id % seedEvery = 0` — no count, no state. */
  def semanticDedupEvery(corpus: DataFrame, seedEvery: Long, tau: Double,
                         idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(seedEvery > 0)
    semanticDedupBy(corpus, id => pmod(id, lit(seedEvery)) === 0, tau, idCol, vecCol)
  }

  /** [[semanticDedup]] with BALANCED IVF sizing (nlist ≈ √n, the
    * classic rule): `seedEvery = ceil(√count)`, so centroid count AND
    * expected cluster size are both ~√n. Total work is then
    * n·√n for assignment + n·√n for within-cluster pairs — measured on
    * the 100× curve after the fixed-step variant showed its failure
    * mode (constant step → n·(n/step) assignment: 276× time at 100×
    * data; this variant re-measured at ~linear). Costs one cheap
    * count() on the driver; the oracle derives the identical step with
    * `ceil(sqrt(count(*)))` in SQL. */
  def semanticDedupBalanced(corpus: DataFrame, tau: Double,
                            idCol: String = "vec_id",
                            vecCol: String = "embedding"): DataFrame = {
    val n = corpus.count()
    val step = math.max(1L, math.ceil(math.sqrt(n.toDouble)).toLong)
    semanticDedupEvery(corpus, step, tau, idCol, vecCol)
  }

  /** Nearest-centroid assignment against a (cluster_id, __sv, __sn)
    * seed frame (ties → smallest cluster_id, exactly as the SQL oracle
    * replays it). Returns (__vid, __cv, __n, cluster_id, __csim).
    *
    * The seed frame is COLLECTED (√n rows under the balanced rule —
    * the same bounded-collect class as the persisted-ANN probe
    * signatures; ~16 MB at a billion docs) and the argmax runs inside
    * [[graft.functions.NearestCentroid]], one generated call per
    * vector. The prior formulations paid for materializing n·nlist
    * candidate ROWS: as a `row_number` window that is a shuffle + sort
    * of every candidate row (vector payloads included), and even as a
    * `max_by` aggregate the struct buffer is not UnsafeRow-mutable so
    * Spark falls back to a partial SortAggregate over the same rows
    * (both measured as d11's dominant term on the 100× sweep). The
    * expression materializes nothing: assignment is now a pure map. */
  private def assignToSeeds(c0: DataFrame, seeds: DataFrame): DataFrame = {
    val cents = seeds.select(col("cluster_id"), col("__sv")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).toSeq
    c0.withColumn("__n", VF.norm(col("__cv")))
      .withColumn("__best",
        graft.functions.NearestCentroid.nearest(col("__cv"), cents))
      .select(col("__vid"), col("__cv"), col("__n"),
        col("__best.cluster_id").as("cluster_id"),
        col("__best.sim").as("__csim"))
  }

  private def semanticDedupBy(corpus: DataFrame, seedPred: Column => Column, tau: Double,
                              idCol: String, vecCol: String): DataFrame = {
    val c0 = corpus.select(col(idCol).as("__vid"),
      col(vecCol).cast("array<double>").as("__cv"))
    val seeds = c0.filter(seedPred(col("__vid")))
      .select(col("__vid").as("cluster_id"), col("__cv").as("__sv"))
      .withColumn("__sn", VF.norm(col("__sv")))
    val assigned = assignToSeeds(c0, seeds)
    val x = assigned.select(col("cluster_id"), col("__vid").as("id_x"),
      col("__cv").as("vx"), col("__n").as("nx"), col("__csim").as("cx"))
    val y = assigned.select(col("cluster_id"), col("__vid").as("id_y"),
      col("__cv").as("vy"), col("__n").as("ny"), col("__csim").as("cy"))
    val dominated = x.join(y, Seq("cluster_id"))
      .filter(col("id_x") =!= col("id_y"))
      .withColumn("__sim", VF.dot(col("vx"), col("vy"))
        / nullif(col("nx") * col("ny"), lit(0.0)))
      .filter(col("__sim") >= tau)
      .filter(col("cy") > col("cx") ||
        (col("cy") === col("cx") && col("id_y") < col("id_x")))
      .select(col("id_x").as("__vid"))
      .distinct()
    assigned.join(dominated, Seq("__vid"), "left_anti")
      .select(col("__vid").as(idCol), col("cluster_id"),
        col("__csim").as("centroid_sim"))
  }

  /** Persist the SemDeDup CENTROID + ASSIGNMENT store — the semantic
    * analog of the MinHash signature store (graft.ops.Dedup
    * .writeMinHashSignatures): at 100 TB a daily delta must assign
    * against FROZEN centroids and compare only within its clusters,
    * not re-cluster the corpus. Centroids follow the balanced rule
    * (seedEvery = ceil(√n), same as [[semanticDedupBalanced]]);
    * `<path>/centroids` holds (cluster_id, __sv, __sn) — tiny, the
    * probe side broadcasts it — and `<path>/assignments` holds every
    * corpus vector with its cluster and centroid similarity,
    * PARTITIONED BY a bucket of cluster_id so a delta's cluster-keyed
    * neighbor join prunes to touched buckets. */
  /** The assignment store's bucket modulus: cluster-keyed reads prune
    * on `__cb = cluster_id mod cb`, so `cb` is FROZEN into the
    * directory layout at write time — appending with a different
    * modulus mis-partitions rows into dirs the pruned reads never
    * open (silently dropped prior art). Pinned in a family-tagged
    * `_graft_meta` under `<store>/assignments`; every append and
    * probe resolves it FROM the pin. */
  val DefaultAssignmentBuckets = 64
  private val SemAssignFamily = "semdedup_assignments"

  private def pinAssignments(spark: org.apache.spark.sql.SparkSession,
                             dir: String, cb: Int): Unit =
    graft.etl.StoreMeta.pinFamily(spark, dir, SemAssignFamily,
      Map("cb" -> cb.toString))

  /** The pinned modulus of an assignment store dir: None when the dir
    * is absent/empty (day zero — the caller's value applies and the
    * first append pins it); fail-fast on a pre-pin dir with data, a
    * foreign family, or an explicit expectation (`expect > 0`) that
    * disagrees with the pin. */
  private def assignmentBuckets(spark: org.apache.spark.sql.SparkSession,
                                dir: String, expect: Int): Option[Int] =
    graft.etl.StoreMeta.requireFamily(spark, dir, SemAssignFamily).map { m =>
      require(m.contains("cb"),
        s"assignment store at $dir pins no 'cb' — sidecar: $m")
      val cb = m("cb").toInt
      require(expect <= 0 || expect == cb,
        s"assignment store at $dir is pinned to cb=$cb buckets but the " +
          s"caller expects $expect — appending under a different modulus " +
          "mis-partitions rows out of every pruned read")
      cb
    }

  def writeSemanticDedupStore(corpus: DataFrame, path: String,
                              idCol: String = "vec_id",
                              vecCol: String = "embedding",
                              assignBuckets: Int = DefaultAssignmentBuckets)
      : Unit = {
    val n = corpus.count()
    val step = math.max(1L, math.ceil(math.sqrt(n.toDouble)).toLong)
    val c0 = corpus.select(col(idCol).as("__vid"),
      col(vecCol).cast("array<double>").as("__cv"))
    val seeds = c0.filter(pmod(col("__vid"), lit(step)) === 0)
      .select(col("__vid").as("cluster_id"), col("__cv").as("__sv"))
      .withColumn("__sn", VF.norm(col("__sv")))
    seeds.write.mode("overwrite").parquet(s"$path/centroids")
    assignToSeeds(c0, seeds)
      .withColumn("__cb", pmod(col("cluster_id"), lit(assignBuckets)))
      .write.mode("overwrite").partitionBy("__cb")
      .parquet(s"$path/assignments")
    pinAssignments(corpus.sparkSession, s"$path/assignments", assignBuckets)
  }

  /** Freeze centroids from a bootstrap corpus (balanced √n rule)
    * WITHOUT assigning it — the streaming bootstrap: the first
    * micro-batch freezes the quantizer, then flows through
    * [[incrementalSemanticDedup]] like every later batch (so the
    * bootstrap batch dedups against itself through the same code
    * path). Writes `path/centroids`; the partitioned assignment store
    * materializes on the first [[appendSemanticAssignments]] (a
    * zero-row partitioned write would leave no files to infer a
    * schema from, so [[incrementalSemanticDedup]] treats a missing
    * assignments dir as an empty store instead). */
  def writeSemanticCentroids(corpus: DataFrame, path: String,
                             idCol: String = "vec_id",
                             vecCol: String = "embedding"): Unit = {
    val n = corpus.count()
    require(n > 0, "cannot bootstrap centroids from an empty corpus")
    val step = math.max(1L, math.ceil(math.sqrt(n.toDouble)).toLong)
    val c0 = corpus.select(col(idCol).as("__vid"),
      col(vecCol).cast("array<double>").as("__cv"))
    val seeds = c0.filter(pmod(col("__vid"), lit(step)) === 0)
      .select(col("__vid").as("cluster_id"), col("__cv").as("__sv"))
      .withColumn("__sn", VF.norm(col("__sv")))
    seeds.write.mode("overwrite").parquet(s"$path/centroids")
  }

  /** Store upkeep after a delta's survivors are decided: assign the
    * surviving delta rows to the FROZEN centroids and append their
    * assignment rows, idempotent on the vector id — the semantic
    * analog of appending a delta's MinHash signatures. Only survivors
    * should be appended (dropped rows must not become prior art). */
  def appendSemanticAssignments(delta: DataFrame, storePath: String,
                                idCol: String = "vec_id",
                                vecCol: String = "embedding",
                                expectBuckets: Int = 0): Long = {
    val spark = delta.sparkSession
    val dir = s"$storePath/assignments"
    // the pin decides the modulus; day zero (no assignments yet) takes
    // the caller expectation or the default, and pins it after the
    // first append materializes the dir
    val pinned = assignmentBuckets(spark, dir, expectBuckets)
    val cb = pinned.getOrElse(
      if (expectBuckets > 0) expectBuckets else DefaultAssignmentBuckets)
    val seeds = spark.read.parquet(s"$storePath/centroids")
    val d0 = delta.select(col(idCol).as("__vid"),
      col(vecCol).cast("array<double>").as("__cv"))
    val rows = assignToSeeds(d0, seeds)
      .withColumn("__cb", pmod(col("cluster_id"), lit(cb)))
    // pin BEFORE the first data write (append mode never deletes the
    // sidecar): the old data-then-pin order left a crash window where
    // a data-bearing unpinned dir permanently fail-fasted every later
    // replay against the stream's own store. A crash after the pin
    // but before the data leaves a sidecar-only dir, which every
    // reader treats as day-zero-with-known-parameters.
    if (pinned.isEmpty) pinAssignments(spark, dir, cb)
    graft.etl.Sinks.idempotentAppendPartitioned(
      rows, dir, Seq("__vid"), "__cb")
  }

  /** INCREMENTAL SemDeDup: dedup a DELTA batch against a persisted
    * store. The delta assigns to the store's FROZEN centroids (one
    * broadcast, no re-clustering), then two domination checks run over
    * the cluster-keyed neighbor join:
    *  - vs the STORE: a store neighbor at cosine ≥ tau drops the delta
    *    row unconditionally — store members are PRIOR ART, already
    *    kept, and will not be dropped retroactively (re-judging them
    *    would leave both copies when the newcomer sits closer to the
    *    centroid). This is the skip-processed-keys idiom of the
    *    reference's incremental scans, applied to semantic identity.
    *  - within the DELTA: the batch variant's rule (neighbor closer to
    *    the centroid wins, ties to smaller id) — identical to
    *    [[semanticDedupBalanced]], so a batch processed incrementally
    *    in one piece drops exactly what the batch operator drops.
    * Corpus vectors outside touched clusters are never read (the
    * assignment store is partitioned by cluster bucket), and no corpus
    * text is anywhere in the plan. Returns delta survivors
    * (id, cluster_id, centroid_sim). Delta ids must not collide with
    * store ids. */
  def incrementalSemanticDedup(delta: DataFrame, storePath: String, tau: Double,
                               idCol: String = "vec_id",
                               vecCol: String = "embedding"): DataFrame = {
    val spark = delta.sparkSession
    val seeds = spark.read.parquet(s"$storePath/centroids")
    val d0 = delta.select(col(idCol).as("__vid"),
      col(vecCol).cast("array<double>").as("__cv"))
    val assigned = assignToSeeds(d0, seeds).localCheckpoint()
    // a store bootstrapped by writeSemanticCentroids has no
    // assignments yet — treat the missing dir as an empty prior corpus.
    // The modulus resolves from the PIN (requireFamily fail-fasts a
    // pre-pin dir with data); the empty-frame fallback carries zero
    // rows, so the default there only shapes the schema
    val cb = assignmentBuckets(spark, s"$storePath/assignments", 0)
      .getOrElse(DefaultAssignmentBuckets)
    // hasData, not a bare exists: the pin now LEADS the first append,
    // so a crash inside that window leaves a sidecar-only dir — a
    // parquet read would fail schema inference on it, but it is just
    // an empty prior corpus
    val store =
      if (graft.etl.StoreMeta.hasData(spark, s"$storePath/assignments"))
        spark.read.parquet(s"$storePath/assignments")
      else assigned.limit(0).withColumn("__cb", pmod(col("cluster_id"), lit(cb)))
    val x = assigned.select(col("cluster_id"), col("__vid").as("id_x"),
      col("__cv").as("vx"), col("__n").as("nx"), col("__csim").as("cx"))
    def simTo(y: DataFrame) = x.join(y, Seq("cluster_id"))
      .filter(col("id_x") =!= col("id_y"))
      .withColumn("__sim", VF.dot(col("vx"), col("vy"))
        / nullif(col("nx") * col("ny"), lit(0.0)))
      .filter(col("__sim") >= tau)
    val vsStore = simTo(store.select(col("cluster_id"), col("__vid").as("id_y"),
        col("__cv").as("vy"), col("__n").as("ny")))
      .select(col("id_x").as("__vid"))
    val vsDelta = simTo(assigned.select(col("cluster_id"), col("__vid").as("id_y"),
        col("__cv").as("vy"), col("__n").as("ny"), col("__csim").as("cy")))
      .filter(col("cy") > col("cx") ||
        (col("cy") === col("cx") && col("id_y") < col("id_x")))
      .select(col("id_x").as("__vid"))
    val dominated = vsStore.unionByName(vsDelta).distinct()
    assigned.join(dominated, Seq("__vid"), "left_anti")
      .select(col("__vid").as(idCol), col("cluster_id"),
        col("__csim").as("centroid_sim"))
  }
}
