package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.PolyHash

/** Deduplication operators for large-scale training-data pipelines
  * (beyond-reference surface, BASELINE.json north star).
  *
  * All operators are pure column expressions + joins — no UDFs — so
  * they scale as ordinary shuffles:
  *  - exact: one hash aggregation on the text (or a digest of it).
  *  - MinHash LSH: per-row signature (map-side), explode to bands
  *    (×B rows), self-join on (band, hash) — the classic
  *    shingle→minhash→band→bucket-join; candidates are then verified
  *    with exact Jaccard so false positives never escape. At 100 TB the
  *    only quadratic work is within buckets.
  *  - SimHash: 64-bit signature via bit-vote aggregation; candidate
  *    pairs via 16-bit band join (Hamming ≤ 3 guarantee by pigeonhole).
  *  - embedding near-dup: brute-force cosine within blocks (see
  *    Similarity for the LSH-bucketed variant).
  */
object Dedup {

  /** Distinct word n-gram shingles as an array column — the
    * [[graft.functions.WordNGrams]] byte-slicer (short texts yield an
    * empty array). One generated call per row; the former HOF
    * formulation evaluated its lambda interpreted per element. */
  def shingles(text: Column, n: Int = 3): Column =
    graft.functions.WordNGrams.grams(text, n)

  /** Distinct shingle rows, for consumers that need set semantics.
    * Map-side via the WordNGrams byte-slicer: per-doc distinct equals
    * the global (id, shingle) distinct, so no distinct() exchange. */
  def shingleRows(df: DataFrame, idCol: String, textCol: String,
                  n: Int): DataFrame =
    df.select(col(idCol).as("__id"),
      explode(graft.functions.WordNGrams.grams(col(textCol), n)).as("__s"))

  /** Exact Jaccard over two distinct-element arrays. */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") /
      size(array_union(a, b)).cast("double")

  /** Exact dedup: one row per distinct text with the surviving id
    * (min) and the duplicate count.
    *
    * The group key is an 8-byte xxhash64 DIGEST of the text, not the
    * text itself: at 100 TB, grouping by the raw text column shuffles
    * the entire corpus through the exchange, while the digest key
    * shuffles 8 bytes per row — the map-side partial aggregate
    * (min, count) discards the text before any network move. A 64-bit
    * digest collides two of N distinct texts with probability
    * ~N²/2^65 (~3e-7 even at 100 billion docs); pass
    * `verifyCollisions = true` to group by (digest, text) instead —
    * collision-proof, at the cost of shuffling the text, for audits. */
  def exact(df: DataFrame, idCol: String, textCol: String,
            verifyCollisions: Boolean = false): DataFrame = {
    val keys =
      if (verifyCollisions) Seq(xxhash64(col(textCol)).as("__d"), col(textCol).as("__text"))
      else Seq(xxhash64(col(textCol)).as("__d"))
    df.groupBy(keys: _*)
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))
      .select(col("keep_id"), col("n_dups"))
  }

  /** Per-hash-function affine permutation constants (odd multipliers,
    * fixed seed — deterministic across runs). Both constants and the
    * reduced hash stay below 2^31 so `h*a + b` never overflows a Long
    * (Spark 4 runs ANSI mode: overflow THROWS, it doesn't wrap). */
  private val MinHashPrime = 2147483647L // 2^31 - 1
  private def permA(i: Int): Long = ((0x9E3779B97F4A7C15L * (i + 1) >>> 33) | 1L) % MinHashPrime
  private def permB(i: Int): Long = (0xC2B2AE3D27D4EB4FL * (i + 7) >>> 33) % MinHashPrime

  /** MinHash signatures via explode + codegen'd hash aggregation:
    * each shingle is hashed ONCE (xxhash64), then the `numHashes`
    * signature slots are `min((a_i*h + b_i) mod p)` aggregate columns.
    * Higher-order functions stay out of the hot path — array lambdas
    * are interpreted in Spark, and 32 interpreted passes per document
    * dominated the runtime; min() aggregates run in whole-stage
    * codegen with map-side partial aggregation.
    * Returns (idCol, m0..m{n-1}). */
  def minHashSignatures(df: DataFrame, idCol: String, textCol: String,
                        numHashes: Int, shingleN: Int): DataFrame =
    minHashSignaturesFromRows(shingleRows(df, idCol, textCol, shingleN), numHashes)

  /** One minhash signature slot: min over permuted shingle hashes. */
  private def minHashSlot(i: Int): Column =
    min(pmod(col("__h") * permA(i) + permB(i), lit(MinHashPrime))).as(s"m$i")

  /** Signature aggregation over pre-computed (__id, __s) shingle rows. */
  def minHashSignaturesFromRows(rows: DataFrame, numHashes: Int): DataFrame =
    rows
      .select(col("__id"), pmod(xxhash64(col("__s")), lit(MinHashPrime)).as("__h"))
      .groupBy(col("__id"))
      .agg(minHashSlot(0), (1 until numHashes).map(minHashSlot): _*)

  /** LSH band rows from signature columns: (band_idx, band_hash). */
  private def bandRowsFromCols(numHashes: Int, bands: Int): Column = {
    val r = numHashes / bands
    // xxhash64 over the signature LONGS directly: the concat_ws form
    // decimal-formats r longs per band into a string first — measured
    // at sf100 as the dominant term of the band explode (159 s for
    // 40M bands). Fixed arity per band ⇒ identical equality classes.
    array((0 until bands).map { b =>
      struct(lit(b).as("band"),
        xxhash64((0 until r).map(j => col(s"m${b * r + j}")): _*).as("band_hash"))
    }: _*)
  }

  /** Candidate-pair generation from banded rows `(…, band, band_hash,
    * id_a/id_b columns projected by the caller)` — the self-join every
    * LSH family shares, with optional SALTING for hot bands
    * (`ScalePatterns.saltedJoin` specialized to the self-join shape):
    * boilerplate-heavy corpora concentrate thousands of docs in one
    * (band, band_hash) bucket, which an unsalted shuffle join routes
    * through a single task. With `saltBuckets = S`, the left side gets
    * a deterministic per-row salt and the right side replicates S×, so
    * the hot bucket's pair-generation spreads over S tasks (per-task
    * input drops ~S×; the pair OUTPUT is inherently quadratic in the
    * bucket — cap bucket width upstream if that is the concern). AQE's
    * runtime skew-split also mitigates this; the explicit salt is for
    * the planned-ahead case (and engines/runs where AQE is off).
    * Results are identical with or without salt. */
  private[graft] def bandCandidates(a: DataFrame, b: DataFrame,
                                    keys: Seq[String],
                                    saltBuckets: Int): DataFrame =
    if (saltBuckets <= 1) a.join(b, keys)
    else {
      val sa = a.withColumn("__salt", pmod(xxhash64(col("id_a")), lit(saltBuckets)))
      val sb = b.withColumn("__salt",
        explode(array((0 until saltBuckets).map(lit): _*)))
      sa.join(sb, keys :+ "__salt").drop("__salt")
    }

  /** MinHash+LSH near-duplicate pairs with exact-Jaccard verification.
    * Returns (id_a, id_b, jaccard) for verified pairs ≥ threshold,
    * id_a < id_b. False positives are eliminated by the verify step;
    * false negatives are bounded by the banding curve
    * (1-(1-s^r)^b ≈ 1 for s ≥ 0.9 at 32/8). `saltBuckets > 1` salts
    * the band self-join for corpora with known hot buckets (see
    * [[bandCandidates]]). */
  def minHashNearDups(df: DataFrame, idCol: String, textCol: String,
                      threshold: Double = 0.8, numHashes: Int = 32,
                      bands: Int = 8, shingleN: Int = 3,
                      saltBuckets: Int = 1): DataFrame = {
    // Stage shapes, each sized by the sf100 profile (DiagD2, 5M docs):
    //
    // 1. SIGNATURES ONLY in the corpus pass — no collect_set. The old
    //    one-aggregate-does-both design dragged a per-doc shingle SET
    //    through the corpus aggregate, which silently demotes the whole
    //    aggregate from codegen HashAggregate to the object-hash path
    //    (heap sets per group, GC-bound: 363 s of a 540 s run at sf100,
    //    with run-to-run variance from GC alone). The 32 min() slots
    //    are pure codegen with map-side partial aggregation; the verify
    //    sets are recomputed LAZILY below for just the candidate ids
    //    (≈1% of docs at sf100) — same trade the t22 metadata prune and
    //    the c2 survivors-join-back make.
    val sigs = minHashSignatures(df, idCol, textCol, numHashes, shingleN)
      .localCheckpoint()
    // 2. Band rows from the slim (id + 32 longs) signature frame.
    val banded = bandedFromPerDoc(sigs, numHashes, bands)
    val a = banded.select(col("band"), col("band_hash"), col("__id").as("id_a"))
    val b = banded.select(col("band"), col("band_hash"), col("__id").as("id_b"))
    val candidates = bandCandidates(a, b, Seq("band", "band_hash"), saltBuckets)
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct() // a pair can collide in >1 band
      .localCheckpoint() // pins the TRUE (small) size for the joins below
    // 3. Verify sets on demand: rescan ONLY candidate docs (broadcast
    //    semi-join on the raw scan — candidate ids ≪ corpus is the
    //    near-dup sparsity assumption; a corpus where candidates
    //    approach n² has quadratic OUTPUT and no plan shape saves it).
    //    The join runs BEFORE the shingle projection, so grams compute
    //    for pruned rows only, and the arrays stay as shingle STRINGS —
    //    the digest-set economy only mattered when sets crossed the
    //    corpus exchange, which they no longer do.
    val candIds = candidates.select(col("id_a").as("__id"))
      .union(candidates.select(col("id_b").as("__id")))
      .distinct()
    val neededSh = df.select(col(idCol).as("__id"), col(textCol).as("__t"))
      .join(broadcast(candIds), Seq("__id"))
      .select(col("__id"), shingles(col("__t"), shingleN).as("__sh"))
      .localCheckpoint()
    candidates
      .join(neededSh.select(col("__id").as("id_a"), col("__sh").as("sh_a")), Seq("id_a"))
      .join(neededSh.select(col("__id").as("id_b"), col("__sh").as("sh_b")), Seq("id_b"))
      .withColumn("jaccard", jaccard(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** [[minHashNearDups]] over an already-persisted [[minHashPerDoc]]
    * frame (a signature STORE): bands from the stored m-columns,
    * verification from the stored __sh sets — zero re-shingling of
    * text that was signed once. This is how a store initialization
    * that also needs the base pair set (the d6b label build) touches
    * the corpus exactly once: sign + persist, then pair off the
    * persisted frame. Same candidates, same exact-jaccard verify as
    * the one-shot path, so the results are identical. */
  private[graft] def minHashNearDupsFromSigs(sigs: DataFrame,
      threshold: Double, numHashes: Int = 32, bands: Int = 8,
      saltBuckets: Int = 1): DataFrame = {
    val banded = bandedFromPerDoc(sigs, numHashes, bands)
    val a = banded.select(col("band"), col("band_hash"), col("__id").as("id_a"))
    val b = banded.select(col("band"), col("band_hash"), col("__id").as("id_b"))
    val candidates = bandCandidates(a, b, Seq("band", "band_hash"), saltBuckets)
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct()
    val withSh = sigs.select(col("__id"), col("__sh"))
    candidates
      .join(withSh.select(col("__id").as("id_a"), col("__sh").as("sh_a")), Seq("id_a"))
      .join(withSh.select(col("__id").as("id_b"), col("__sh").as("sh_b")), Seq("id_b"))
      .withColumn("jaccard", jaccard(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Per-doc MinHash state: (__id, __sh distinct shingle-DIGEST set,
    * m0..m{n-1} signature slots) — ONE aggregate computes both the
    * verify set and every signature slot. This is the unit the
    * incremental path persists (the STORE needs the sets so delta
    * verification never re-scans corpus text). The one-shot batch path
    * (minHashNearDups) deliberately does NOT use it: collect_set
    * demotes the corpus aggregate to the object-hash path (no codegen,
    * GC-bound — 363 s of a 540 s sf100 run), so the batch path runs
    * signature-only and recomputes sets for just the candidate ids.
    *
    * The verify set holds full 64-bit xxhash64 digests, NOT shingle
    * strings: exact Jaccard is a ratio of set-intersection/union
    * SIZES, which digest sets preserve exactly up to a within-pair
    * collision (~|union|²/2^65 ≈ 3e-16 per pair — never), so the
    * d2/d9 exchange and the persisted signature store carry 8 bytes
    * per shingle instead of the shingle text (~3× the corpus). The
    * oracle keeps computing Jaccard from the strings — equal set
    * sizes ⇒ bit-equal ratios. (Note the digest is the UN-reduced
    * hash: the signature slots reduce mod 2^31-1, fine for min-races
    * but too collidable for set semantics.) */
  private[graft] def minHashPerDoc(df: DataFrame, idCol: String, textCol: String,
                                   numHashes: Int, shingleN: Int): DataFrame =
    // Shingles come out of the WordNGrams byte-slicer MAP-SIDE (already
    // distinct per doc — min slots and collect_set are multiplicity-
    // insensitive, so results are identical to the raw positioned
    // rows), and each doc's rows stay in its own input partition, so
    // the partial aggregate collapses to one row per doc BEFORE the
    // exchange. The previous posexplode+lead() window assembly sorted
    // every word row on the doc key first — at the 100× point that
    // sort was d2's dominant term (~2/3 of a 15.6 s best-case run).
    df.select(col(idCol).as("__id"),
        explode(graft.functions.WordNGrams.grams(col(textCol), shingleN)).as("__s"))
      .withColumn("__d", xxhash64(col("__s")))
      .withColumn("__h", pmod(col("__d"), lit(MinHashPrime)))
      .groupBy(col("__id"))
      .agg(collect_set(col("__d")).as("__sh"),
        (0 until numHashes).map(minHashSlot): _*)

  /** (__id, band, band_hash) rows from a per-doc signature frame. */
  private[graft] def bandedFromPerDoc(perDoc: DataFrame, numHashes: Int,
                               bands: Int): DataFrame =
    perDoc
      .select(col("__id"),
        explode(bandRowsFromCols(numHashes, bands)).as("__band"))
      .select(col("__id"), col("__band.band").as("band"),
        col("__band.band_hash").as("band_hash"))

  /** The signature stores' sidecar families + write-time defaults.
    * `numHashes` and `shingleN` are FROZEN into a MinHash store's
    * persisted artifacts (the m-columns and the shingle digest sets):
    * a delta signed at different values band-joins and Jaccard-verifies
    * against incomparable numbers — silent garbage candidate sets, the
    * exact class `requireFamily` fail-fasts for the sketch stores. So
    * they pin, probes resolve them FROM the store, and an explicit
    * caller expectation that disagrees fail-fasts. */
  val DefaultNumHashes = 32
  val DefaultShingleN = 3
  private[graft] val MinHashFamily = "minhash_signatures"
  private[graft] val SimHashFamily = "simhash_signatures"

  private def metaInt(m: Map[String, String], path: String, key: String): Int = {
    require(m.contains(key),
      s"signature store at $path pins no '$key' — sidecar: $m")
    m(key).toInt
  }

  /** Pin a freshly-written MinHash signature store (data must already
    * be on disk — an overwrite deletes the target dir first). Also the
    * streaming bootstrap's pin (EventStreams creates the store empty
    * on first contact and stamps it through this). `kb` freezes the
    * doc-id bucket modulus of the store's `__kb=` layout — the r16
    * pruned-novelty discipline: appends anti-join only the buckets the
    * delta's ids hash into. */
  private[graft] def pinMinHashStore(spark: org.apache.spark.sql.SparkSession,
                                     path: String, numHashes: Int,
                                     shingleN: Int,
                                     kb: Int = graft.etl.Sinks.DefaultLogBuckets): Unit =
    graft.etl.StoreMeta.pinFamily(spark, path, MinHashFamily, Map(
      "num_hashes" -> numHashes.toString, "shingle_n" -> shingleN.toString,
      "kb" -> kb.toString))

  /** The store's pinned (numHashes, shingleN) — fail-fast on a pre-pin
    * or foreign-family store, or on an explicit caller expectation
    * (`expect* > 0`) that disagrees with the pin. */
  def minHashStoreParams(spark: org.apache.spark.sql.SparkSession,
                         path: String, expectNumHashes: Int = 0,
                         expectShingleN: Int = 0): (Int, Int) = {
    val m = graft.etl.StoreMeta.requireFamily(spark, path, MinHashFamily)
      .getOrElse(sys.error(s"no MinHash signature store at $path"))
    val nh = metaInt(m, path, "num_hashes")
    val sn = metaInt(m, path, "shingle_n")
    require(expectNumHashes <= 0 || expectNumHashes == nh,
      s"MinHash store at $path is pinned to numHashes=$nh but the caller " +
        s"expects $expectNumHashes — signatures across hash counts are " +
        "incomparable; rebuild the store or drop the expectation")
    require(expectShingleN <= 0 || expectShingleN == sn,
      s"MinHash store at $path is pinned to shingleN=$sn but the caller " +
        s"expects $expectShingleN — re-shingling a delta at a different n " +
        "silently corrupts every candidate set and Jaccard verify")
    (nh, sn)
  }

  /** Persist the per-doc MinHash signature store (overwrite), with
    * (numHashes, shingleN) frozen in a family-tagged `_graft_meta`
    * sidecar. The real 100 TB dedup operation is "new batch vs
    * existing corpus", not a full re-dedup: the store pays the corpus
    * shingle+signature pass ONCE; every later
    * [[incrementalMinHashNearDups]] call reads signatures from parquet
    * and never re-scans the corpus text. Docstore upkeep composes with
    * the engine's idempotent-append discipline
    * (graft.etl.Sinks.idempotentAppend): append the delta's signatures
    * after deduping it. */
  def writeMinHashSignatures(df: DataFrame, idCol: String, textCol: String,
                             path: String, numHashes: Int = DefaultNumHashes,
                             shingleN: Int = DefaultShingleN,
                             kb: Int = graft.etl.Sinks.DefaultLogBuckets): Unit = {
    // bucketed by doc-id hash (the r16 keyed-log layout): one build-time
    // exchange buys every later append a delta-pruned novelty read —
    // the repartition clusters each bucket into one write task, so the
    // store lands as kb files, not tasks×kb
    minHashPerDoc(df, idCol, textCol, numHashes, shingleN)
      .withColumn("__kb", graft.etl.Sinks.keyBucket(Seq("__id"), kb))
      .repartition(col("__kb"))
      .write.mode("overwrite").partitionBy("__kb").parquet(path)
    pinMinHashStore(df.sparkSession, path, numHashes, shingleN, kb)
  }

  /** Append a delta's signatures to a pinned [[writeMinHashSignatures]]
    * store — the upkeep half of the daily-dedup loop (sign once, probe,
    * then append the SURVIVORS so they become prior art): the delta is
    * signed at the STORE's pinned (numHashes, shingleN) and appended
    * idempotent on the doc id, exactly what the streaming faces do
    * inline. Returns inserted row count. */
  def appendMinHashSignatures(delta: DataFrame, idCol: String,
                              textCol: String, path: String): Long = {
    val (nh, sn) = minHashStoreParams(delta.sparkSession, path)
    appendSignatureRows(minHashPerDoc(delta, idCol, textCol, nh, sn), path)
  }

  /** Append PRE-COMPUTED signature rows (a `minHashPerDoc` frame at
    * the store's pinned parameters) idempotent on the doc id — the
    * entry the streaming faces use so a micro-batch is signed exactly
    * once. The novelty anti-join is pruned to the delta's `__kb`
    * buckets under the store's pinned modulus. */
  private[graft] def appendSignatureRows(sigs: DataFrame, path: String): Long =
    graft.etl.Sinks.bucketedNoveltyAppend(sigs, path, Seq("__id"),
      graft.etl.Sinks.pinnedKb(path, graft.etl.StoreMeta.requireFamily(
        sigs.sparkSession, path, MinHashFamily)))

  /** Near-dup pairs of a DELTA batch against a persisted signature
    * store (plus within-delta pairs). Only the delta is shingled and
    * signed — at the STORE's pinned (numHashes, shingleN), so a store
    * built with foreign parameters is honored end to end; the default
    * `numHashes`/`shingleN` of 0 mean "resolve from the pin", and an
    * explicit value that disagrees with the pin fail-fasts (the
    * Sketches merge discipline). The corpus side's bands come from the
    * stored m-columns (cheap column math, no text). The band join's
    * left side is the delta — small, so the join broadcasts it — and
    * the exact-Jaccard verify reads shingle sets from the store.
    * Returns (id_a, id_b, jaccard) where at least one side is a delta
    * doc; delta ids must not collide with store ids. */
  def incrementalMinHashNearDups(delta: DataFrame, idCol: String, textCol: String,
                                 storePath: String, threshold: Double = 0.8,
                                 numHashes: Int = 0, bands: Int = 8,
                                 shingleN: Int = 0,
                                 saltBuckets: Int = 1): DataFrame = {
    val (nh, sn) = minHashStoreParams(delta.sparkSession, storePath,
      numHashes, shingleN)
    incrementalMinHashNearDupsFromSigs(
      minHashPerDoc(delta, idCol, textCol, nh, sn).localCheckpoint(),
      storePath, threshold, nh, bands, saltBuckets)
  }

  /** [[incrementalMinHashNearDups]] from PRE-COMPUTED delta signatures
    * (a `minHashPerDoc` frame, ideally checkpointed) — the entry point
    * for callers that also need the signatures afterwards (the
    * streaming dedup appends them to the store), so the delta text is
    * shingled exactly once per micro-batch. */
  private[graft] def incrementalMinHashNearDupsFromSigs(
      deltaSig: DataFrame, storePath: String, threshold: Double,
      numHashes: Int, bands: Int, saltBuckets: Int): DataFrame = {
    val spark = deltaSig.sparkSession
    // the caller signed deltaSig at `numHashes` — it MUST be the pin's
    // value, or the band join below compares incomparable signatures
    val (pinnedNh, _) = minHashStoreParams(spark, storePath)
    require(pinnedNh == numHashes,
      s"delta signatures were built at numHashes=$numHashes but the store " +
        s"at $storePath is pinned to $pinnedNh — refusing the band join")
    // hasData, not a bare read: a just-pinned bootstrap store holds
    // only the sidecar (pin leads data), and the bucketed layout adds
    // a `__kb` partition column the signature frames don't carry —
    // select the delta's columns so both layouts union cleanly
    val store =
      if (graft.etl.StoreMeta.hasData(spark, storePath))
        spark.read.parquet(storePath).select(deltaSig.columns.map(col): _*)
      else deltaSig.limit(0)
    val all = store.unionByName(deltaSig)
    val l = bandedFromPerDoc(deltaSig, numHashes, bands)
      .select(col("band"), col("band_hash"), col("__id").as("id_a"))
    val r = bandedFromPerDoc(all, numHashes, bands)
      .select(col("band"), col("band_hash"), col("__id").as("id_b"))
    val candidates = bandCandidates(l, r, Seq("band", "band_hash"), saltBuckets)
      .filter(col("id_a") =!= col("id_b"))
      .select(least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"))
      .distinct() // >1 band, and delta-delta pairs found from both sides
    val withSh = all.select(col("__id"), col("__sh"))
    candidates
      .join(withSh.select(col("__id").as("id_a"), col("__sh").as("sh_a")), Seq("id_a"))
      .join(withSh.select(col("__id").as("id_b"), col("__sh").as("sh_b")), Seq("id_b"))
      .withColumn("jaccard", jaccard(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Band-width sizing rule for SimHash-style banding: expected RANDOM
    * collisions per document per band are n/2^width, so width must
    * grow with log2(n) to keep candidate generation linear —
    * `width ≥ ceil(log2 n) + slack` gives ≤ 2^-slack random candidates
    * per doc per band. The 60-bit/4-band exemplar (width 15) is sized
    * for bench corpora (n ≤ ~300k at slack 0); beyond that the
    * signature must widen — [[simHashNearDupsWide]] is that widening
    * (two independent 60-bit lanes → 4 bands of up to 30 bits, good to
    * n ≈ 2^25 at slack 5 / 2^30 at slack 0 — a billion docs per corpus
    * — while keeping the pigeonhole guarantee at Hamming ≤ 3).
    *
    * Computed as `bitLength(n-1) + slack` — exactly `ceil(log2 n) +
    * slack` for n ≥ 2, in pure integer math, because both the engine
    * and the SQL oracle must derive the SAME width from a corpus count
    * and `ceil(log2 x)` in floating point can round differently across
    * engines at exact powers of two. The SQL replay is
    * `length(bin(n - 1)) + slack` (bin() exists in Spark and DuckDB
    * with identical semantics). */
  def simHashBandWidthFor(n: Long, slack: Int = 5): Int =
    64 - java.lang.Long.numberOfLeadingZeros(math.max(2L, n) - 1) + slack

  /** SimHash signature width: 60 bits — two independent 30-bit halves
    * of [[graft.functions.PolyHash]] (bits 0-29 from h2, 30-59 from
    * h1). PolyHash, unlike xxhash64, is exactly reproducible in the
    * DuckDB oracle's SQL, which makes the whole near-dup operator
    * hash-verifiable. */
  val SimHashBits = 60
  private val SimHashBands = 4
  private val SimHashBandWidth = SimHashBits / SimHashBands // 15

  /** SimHash signatures as a PURE PROJECTION: the whole 60-bit
    * signature — word PolyHash folds, per-bit ±1 votes, sign pack —
    * runs inside [[graft.functions.SimHashSig]], one generated call
    * per document. (The first formulation exploded every word as a row
    * and pushed 150M+ rows at sf10 through a 60-column conditional-sum
    * aggregate whose generated code alone took ~5 s of Janino/JIT; the
    * expression is bit-identical — SimHashSigSpec asserts equality
    * against the explode+aggregate formulation, and the d3/d3b/d3c
    * oracle hashes replay it in SQL.) Returns (__id, __sig). */
  def simHashSignatures(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("__id"),
      graft.functions.SimHashSig.sig(col(textCol)).as("__sig"))

  /** SimHash candidate pairs: 4 bands of 15 bits — any pair within
    * Hamming distance 3 shares at least one exact band (pigeonhole);
    * verified with the true Hamming distance. */
  def simHashNearDups(df: DataFrame, idCol: String, textCol: String,
                      maxHamming: Int = 3, saltBuckets: Int = 1): DataFrame = {
    // eagerly materialized once: both sides of the band self-join read
    // the signatures; a lazy cache() lets the two join-side stages race
    // on cold partitions and compute the 60-vote aggregate twice
    val sigs = simHashSignatures(df, idCol, textCol).localCheckpoint()
    val banded = sigs.withColumn("__b", explode(array((0 until SimHashBands).map { b =>
        struct(lit(b).as("band"),
          shiftright(col("__sig"), b * SimHashBandWidth)
            .bitwiseAND(lit((1L << SimHashBandWidth) - 1)).as("band_val"))
      }: _*)))
      .select(col("__id"), col("__sig"),
        col("__b.band").as("band"), col("__b.band_val").as("band_val"))
    val a = banded.select(col("band"), col("band_val"),
      col("__id").as("id_a"), col("__sig").as("sig_a"))
    val b = banded.select(col("band"), col("band_val"),
      col("__id").as("id_b"), col("__sig").as("sig_b"))
    // verify BEFORE dedupe: the signatures ride the candidate row, so
    // the Hamming filter is a codegen XOR+popcount per joined row —
    // running it first shrinks the dropDuplicates exchange from every
    // random band collision (n²·bands/2^width pairs; the dominant cost
    // at 100× scale) down to true near-dup pairs only
    bandCandidates(a, b, Seq("band", "band_val"), saltBuckets)
      .filter(col("id_a") < col("id_b"))
      .withColumn("hamming", bit_count(col("sig_a").bitwiseXOR(col("sig_b"))))
      .filter(col("hamming") <= maxHamming)
      .dropDuplicates("id_a", "id_b")
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  /** Wide SimHash signatures: TWO independent 60-bit lanes (120 usable
    * bits) — lane 0 votes on [[graft.functions.PolyHash]] bits, lane 1
    * on [[graft.functions.PolyHashB]] (independent multipliers/moduli).
    * Each word hashes ONCE for both lanes inside the same
    * [[graft.functions.SimHashSig]] scan (see [[simHashSignatures]]),
    * so the cost over the 60-bit exemplar is arithmetic width — the
    * stage stays a pure projection. Returns (__id, __sig0, __sig1). */
  def simHashSignaturesWide(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("__id"),
        graft.functions.SimHashSig.sigWide(col(textCol)).as("__w"))
      .select(col("__id"), col("__w.sig0").as("__sig0"),
        col("__w.sig1").as("__sig1"))

  /** The four (lane, bit-offset) band slots of the wide signature:
    * bands 0-1 read lane 0 at offsets 0 and `width`, bands 2-3 lane 1.
    * With width ≤ 30 both bands fit a 60-bit lane; bits above 2·width
    * per lane stay out of every band, which can only REDUCE false
    * candidates — a pair differing solely in uncovered bits still
    * shares all four bands and is handled by the exact Hamming verify.
    */
  private def wideBands(sig0: Column, sig1: Column, width: Int): Column = {
    val mask = lit((1L << width) - 1)
    array(
      struct(lit(0).as("band"), sig0.bitwiseAND(mask).as("band_val")),
      struct(lit(1).as("band"), shiftright(sig0, width).bitwiseAND(mask).as("band_val")),
      struct(lit(2).as("band"), sig1.bitwiseAND(mask).as("band_val")),
      struct(lit(3).as("band"), shiftright(sig1, width).bitwiseAND(mask).as("band_val")))
  }

  /** WIDE SimHash near-dup pairs — the scale variant of
    * [[simHashNearDups]]. Same shape (band self-join, verify-before-
    * dedupe), but the signature is 120 bits across two lanes and the
    * band width is DATA-SIZED: `min(30, simHashBandWidthFor(n))`, so
    * random band collisions stay ≤ 2^-slack per doc per band up to
    * n ≈ 2^25 docs (slack 5; 2^30 at slack 0) instead of the 60-bit
    * exemplar's ~300k ceiling. Four bands of that width keep the exact
    * pigeonhole guarantee: any pair within Hamming ≤ 3 over the full
    * 120 bits shares at least one band. Hamming distances are summed
    * across lanes (codegen XOR+popcount per candidate row, still
    * verify-before-dedupe so the distinct exchange carries true
    * near-dups only).
    *
    * Width sizing costs one count() over the checkpointed 16-byte
    * signatures (no second corpus-text scan); the SQL oracle derives
    * the identical width from `least(30, length(bin(count(*) - 1)) +
    * 5)` — integer math both engines replay bit-for-bit (see
    * [[simHashBandWidthFor]]). */
  def simHashNearDupsWide(df: DataFrame, idCol: String, textCol: String,
                          maxHamming: Int = 3, saltBuckets: Int = 1,
                          bandWidth: Int = 0): DataFrame = {
    val sigs = simHashSignaturesWide(df, idCol, textCol).localCheckpoint()
    // width sizing counts the CHECKPOINTED per-doc signatures (16 bytes/
    // row, already materialized) — not a second full scan of the corpus
    // text. One signature per distinct id, so this equals the oracle's
    // count(*) whenever ids are unique (the documents contract).
    val width =
      if (bandWidth > 0) bandWidth
      else math.min(30, simHashBandWidthFor(sigs.count()))
    require(width <= 30, s"band width $width exceeds the 30-bit lane budget")
    val banded = sigs
      .withColumn("__b", explode(wideBands(col("__sig0"), col("__sig1"), width)))
      .select(col("__id"), col("__sig0"), col("__sig1"),
        col("__b.band").as("band"), col("__b.band_val").as("band_val"))
    val a = banded.select(col("band"), col("band_val"), col("__id").as("id_a"),
      col("__sig0").as("s0a"), col("__sig1").as("s1a"))
    val b = banded.select(col("band"), col("band_val"), col("__id").as("id_b"),
      col("__sig0").as("s0b"), col("__sig1").as("s1b"))
    bandCandidates(a, b, Seq("band", "band_val"), saltBuckets)
      .filter(col("id_a") < col("id_b"))
      .withColumn("hamming",
        bit_count(col("s0a").bitwiseXOR(col("s0b"))) +
          bit_count(col("s1a").bitwiseXOR(col("s1b"))))
      .filter(col("hamming") <= maxHamming)
      .dropDuplicates("id_a", "id_b")
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  /** FOUR-lane (240-bit) signatures: (__id, __sig0..__sig3) — still a
    * pure projection, one [[graft.functions.SimHashSigWide4]] call per
    * document (each word hashes once per lane inside the same scan). */
  def simHashSignaturesWide4(df: DataFrame, idCol: String,
                             textCol: String): DataFrame =
    df.select(col(idCol).as("__id"),
        graft.functions.SimHashSig.sigWide4(col(textCol)).as("__w"))
      .select(col("__id") +: (0 to 3).map(i =>
        col(s"__w.sig$i").as(s"__sig$i")): _*)

  /** FOURTH-DECADE SimHash near-dups: four lanes, each band = one
    * whole lane masked to the data-sized width `min(60,
    * ⌈log2 n⌉ + 5)` — the regime [[simHashNearDupsWide]]'s two-lane
    * layout cannot reach (its band width saturates at 30 bits around
    * n ≈ 2^25 docs; a full lane per band holds the slack-5 collision
    * rule to n ≈ 2^55). Same pigeonhole: 4 bands, Hamming ≤ 3 over
    * the covered bits ⇒ some band matches; differences confined to
    * uncovered high bits leave band equality untouched (recall
    * preserved), and the exact four-lane Hamming verify runs before
    * the dedupe exchange as always. */
  def simHashNearDupsWide4(df: DataFrame, idCol: String, textCol: String,
                           maxHamming: Int = 3, saltBuckets: Int = 1,
                           bandWidth: Int = 0): DataFrame = {
    val sigs = simHashSignaturesWide4(df, idCol, textCol).localCheckpoint()
    val width =
      if (bandWidth > 0) bandWidth
      else math.min(60, simHashBandWidthFor(sigs.count()))
    require(width <= 60, s"band width $width exceeds the 60-bit lane")
    val mask =
      if (width == 60) lit((1L << 60) - 1)
      else lit((1L << width) - 1)
    val banded = sigs.withColumn("__b", explode(array((0 to 3).map(i =>
        struct(lit(i).as("band"),
          col(s"__sig$i").bitwiseAND(mask).as("band_val"))): _*)))
      .select(col("__id") +: (0 to 3).map(i => col(s"__sig$i")) :+
        col("__b.band").as("band") :+ col("__b.band_val").as("band_val"): _*)
    val a = banded.select(col("band") +: col("band_val") +:
      col("__id").as("id_a") +: (0 to 3).map(i => col(s"__sig$i").as(s"a$i")): _*)
    val b = banded.select(col("band") +: col("band_val") +:
      col("__id").as("id_b") +: (0 to 3).map(i => col(s"__sig$i").as(s"b$i")): _*)
    val hamming = (0 to 3)
      .map(i => bit_count(col(s"a$i").bitwiseXOR(col(s"b$i"))))
      .reduceLeft(_ + _)
    bandCandidates(a, b, Seq("band", "band_val"), saltBuckets)
      .filter(col("id_a") < col("id_b"))
      .withColumn("hamming", hamming)
      .filter(col("hamming") <= maxHamming)
      .dropDuplicates("id_a", "id_b")
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  /** Persist the per-doc SimHash signature store (overwrite) — the
    * SimHash analog of [[writeMinHashSignatures]]: the corpus text is
    * scanned and vote-aggregated ONCE; every later
    * [[incrementalSimHashNearDups]] call band-joins a delta against
    * these 8-byte signatures and never re-reads corpus text. The
    * signature geometry here is a CODE constant, not a caller
    * parameter — so the pin freezes the build's constants (60 bits,
    * PolyHash word folds) the way the HLL store freezes its register
    * count: a store from a different-geometry build cannot be probed,
    * only re-signed. */
  def writeSimHashSignatures(df: DataFrame, idCol: String, textCol: String,
                             path: String,
                             kb: Int = graft.etl.Sinks.DefaultLogBuckets): Unit = {
    // same r16 keyed-log layout as the MinHash store: bucketed by
    // doc-id hash so appends prune their novelty read
    simHashSignatures(df, idCol, textCol)
      .withColumn("__kb", graft.etl.Sinks.keyBucket(Seq("__id"), kb))
      .repartition(col("__kb"))
      .write.mode("overwrite").partitionBy("__kb").parquet(path)
    graft.etl.StoreMeta.pinFamily(df.sparkSession, path, SimHashFamily, Map(
      "bits" -> SimHashBits.toString, "hash" -> "poly1",
      "kb" -> kb.toString))
  }

  /** Append a delta's 8-byte signatures to a pinned
    * [[writeSimHashSignatures]] store, idempotent on the doc id; the
    * pin guard refuses a foreign-geometry store first. Bucket-pruned
    * novelty read under the pinned `kb`. Returns inserted row count. */
  def appendSimHashSignatures(delta: DataFrame, idCol: String,
                              textCol: String, path: String): Long = {
    val kb = graft.etl.Sinks.pinnedKb(path,
      Some(requireSimHashStore(delta.sparkSession, path)))
    graft.etl.Sinks.bucketedNoveltyAppend(
      simHashSignatures(delta, idCol, textCol), path, Seq("__id"), kb)
  }

  /** Fail-fast resolution of a SimHash store's pin against this
    * build's constants. */
  private def requireSimHashStore(spark: org.apache.spark.sql.SparkSession,
                                  path: String): Map[String, String] = {
    val m = graft.etl.StoreMeta.requireFamily(spark, path, SimHashFamily)
      .getOrElse(sys.error(s"no SimHash signature store at $path"))
    val bits = metaInt(m, path, "bits")
    require(bits == SimHashBits && m.get("hash").forall(_ == "poly1"),
      s"SimHash store at $path is pinned to bits=$bits " +
        s"hash=${m.getOrElse("hash", "?")} but this build signs at " +
        s"bits=$SimHashBits hash=poly1 — Hamming distances across " +
        "geometries are meaningless; rebuild the store")
    m
  }

  /** INCREMENTAL SimHash near-dups: a delta batch against a persisted
    * signature store (plus within-delta pairs). Only the delta is
    * hashed; the store side is an 8-byte-signature parquet scan — no
    * corpus text anywhere in the plan (asserted in DedupSpec). Bands
    * are the classic 4×15 of the 60-bit exemplar (the width story
    * lives in [[simHashNearDupsWide]]; the store schema is the 60-bit
    * signature both write/probe sides share). Returns (id_a, id_b,
    * hamming) pairs with at least one delta side, id_a < id_b; delta
    * ids must not collide with store ids. */
  def incrementalSimHashNearDups(delta: DataFrame, idCol: String, textCol: String,
                                 storePath: String, maxHamming: Int = 3,
                                 saltBuckets: Int = 1): DataFrame = {
    val spark = delta.sparkSession
    requireSimHashStore(spark, storePath): Unit
    val deltaSig = simHashSignatures(delta, idCol, textCol).localCheckpoint()
    // select the delta's columns: the bucketed layout carries a `__kb`
    // partition column the signature frame doesn't
    val all = spark.read.parquet(storePath)
      .select(deltaSig.columns.map(col): _*)
      .unionByName(deltaSig)
    def banded(sigs: DataFrame) = sigs
      .withColumn("__b", explode(array((0 until SimHashBands).map { bd =>
        struct(lit(bd).as("band"),
          shiftright(col("__sig"), bd * SimHashBandWidth)
            .bitwiseAND(lit((1L << SimHashBandWidth) - 1)).as("band_val"))
      }: _*)))
      .select(col("__id"), col("__sig"),
        col("__b.band").as("band"), col("__b.band_val").as("band_val"))
    val l = banded(deltaSig).select(col("band"), col("band_val"),
      col("__id").as("id_a"), col("__sig").as("sig_a"))
    val r = banded(all).select(col("band"), col("band_val"),
      col("__id").as("id_b"), col("__sig").as("sig_b"))
    bandCandidates(l, r, Seq("band", "band_val"), saltBuckets)
      .filter(col("id_a") =!= col("id_b"))
      .withColumn("hamming", bit_count(col("sig_a").bitwiseXOR(col("sig_b"))))
      .filter(col("hamming") <= maxHamming)
      .select(least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"), col("hamming"))
      .dropDuplicates("id_a", "id_b") // >1 band + delta-delta from both sides
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  /** Distributed connected components over an undirected pair graph —
    * the step that turns near-dup PAIRS into duplicate GROUPS (a real
    * dedup pipeline drops all-but-one per group, not per pair).
    *
    * Min-label propagation WITH POINTER JUMPING (the hash-to-min /
    * pointer-doubling family — GraphX's Pregel formulation plus the
    * PRAM shortcut — in plain DataFrame ops): every node starts
    * labeled with itself; each round (a) takes the min label across
    * neighbors, then (b) shortcuts through the label graph —
    * `component ← label(component)` — so the distance a min label has
    * travelled DOUBLES per round instead of growing by one hop.
    * Converges in O(log diameter) rounds: near-dup components are
    * small and dense (single-digit rounds), and the adversarial case —
    * one boilerplate-heavy corpus chaining a giant component — is
    * bounded too (a 10k-node path converges in ~15 rounds, spec'd in
    * DedupSpec; `maxIter = 50` covers diameters beyond 2^40, so the
    * convergence `require` is a genuine invariant, not a tunable).
    * Each round is two node-key joins + one partial+final min
    * aggregate, materialized by EXACTLY ONE action: the node's old
    * label rides through the aggregate (`min(__old)` — each node has
    * exactly one labels row) and a Spark accumulator counts label
    * changes during the same materialization pass, so convergence
    * costs no extra per-round job. localCheckpoint per round truncates
    * the lineage so plan size stays constant (the classic
    * iterative-Spark failure mode is an exponentially growing plan,
    * not the compute). Returns (node, component), component = min
    * node id reachable. */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
                          maxIter: Int = 50): DataFrame =
    connectedComponentsWithRounds(pairs, aCol, bCol, maxIter)._1

  /** INCREMENTAL connected components by ROOT CONTRACTION — the d9
    * discipline applied to the component artifact itself: a persisted
    * (node, component) label table absorbs a batch of new edges
    * WITHOUT re-running CC over the full graph. Each delta endpoint
    * resolves to its current root (one equi-join against the store;
    * unseen nodes root at themselves), [[connectedComponents]] then
    * runs over the CONTRACTED root-root edges — a frame bounded by
    * |delta edges|, never the accumulated graph — and the resulting
    * root remap re-labels the store through one more equi-join (only
    * roots touched by the delta move; a broadcast-sized frame in the
    * daily-delta regime).
    *
    * The merge is EXACT, not approximate: store labels are min-member
    * ids (the [[connectedComponents]] invariant), so contracting each
    * old component to its root preserves connectivity (union-find's
    * union-by-contraction), and the remapped label min(roots) =
    * min(min(members)) = the merged component's global min id — the
    * incremental result equals a full rebuild BIT-FOR-BIT, which is
    * what lets d6b gate on d6's oracle verbatim. */
  def mergeComponentLabels(storeLabels: DataFrame, deltaEdges: DataFrame,
                           aCol: String, bCol: String): DataFrame = {
    val lbl = storeLabels.select(col("node"), col("component"))
    val (remap, deltaNodes) = contractDelta(lbl, deltaEdges, aCol, bCol)
    // store rows re-rooted; delta endpoints (incl. brand-new nodes)
    // enter at their contracted root, then re-root the same way
    remapWith(remap)(lbl).unionByName(remapWith(remap)(deltaNodes))
      .groupBy(col("node")).agg(min(col("component")).as("component"))
  }

  /** Shared root-contraction core of [[mergeComponentLabels]] and
    * [[mergeComponentStoreDelta]] — ONE home for the min-id merge both
    * d6b and d6c/st19 gate their bit-for-bit rebuild-equality on:
    * resolve delta endpoints to current roots (one labels equi-join;
    * unseen nodes root at themselves), run CC over the contracted
    * root pairs, fold the delta's own nodes to their contracted
    * roots. Returns (root remap FILTERED to actual moves, delta node
    * rows) — both |delta|-bounded. */
  private def contractDelta(lbl: DataFrame, deltaEdges: DataFrame,
                            aCol: String, bCol: String): (DataFrame, DataFrame) = {
    val e = deltaEdges
      .select(col(aCol).as("__na"), col(bCol).as("__nb"))
      .join(lbl.select(col("node").as("__na"), col("component").as("__ra")),
        Seq("__na"), "left")
      .join(lbl.select(col("node").as("__nb"), col("component").as("__rb")),
        Seq("__nb"), "left")
      .select(col("__na"), col("__nb"),
        coalesce(col("__ra"), col("__na")).as("root_a"),
        coalesce(col("__rb"), col("__nb")).as("root_b"))
      .localCheckpoint() // reused by the CC run and the new-node fold
    // CC over contracted edges only — |delta|-sized by construction
    val remap = connectedComponents(
        e.filter(col("root_a") =!= col("root_b")), "root_a", "root_b")
      .select(col("node").as("__root"), col("component").as("__new"))
      .filter(col("__root") =!= col("__new")) // only actual moves
      .localCheckpoint()
    val deltaNodes = e.select(col("__na").as("node"), col("root_a").as("component"))
      .unionByName(e.select(col("__nb").as("node"), col("root_b").as("component")))
      .groupBy(col("node")).agg(min(col("component")).as("component"))
    (remap, deltaNodes)
  }

  private def remapWith(remap: DataFrame)(rows: DataFrame): DataFrame =
    rows.join(remap, rows("component") === remap("__root"), "left")
      .select(rows("node"),
        coalesce(col("__new"), rows("component")).as("component"))

  /** Default bucket count for the partitioned component label store.
    * Size so one bucket ≈ one write task's worth of label rows at the
    * target corpus (10¹¹ nodes / 2¹⁴ buckets ≈ 6M rows ≈ 100 MB of
    * (long, long)); the sf-test default keeps the touched/untouched
    * assert meaningful. */
  val ComponentStoreBuckets: Int = 64

  /** Sentinel bucket count: resolve from the store's persisted `_meta`
    * (an existing store), else data-size from the label row count (a
    * fresh store). The default everywhere a caller doesn't genuinely
    * know better — passing a literal N over a live store whose meta
    * says otherwise fail-fasts instead of silently mis-pruning. */
  val StoreSizedBuckets: Int = 0

  /** Data-sized bucket count: one bucket ≈ 6M (long, long) label rows
    * ≈ 100 MB per write task, floored at 8 so the touched/untouched
    * pruning stays meaningful at fixture scale and capped at 2¹⁴
    * (the 10¹¹-node sizing). Fixture-scale stores stop paying dozens
    * of empty-file parquet footers per read. */
  def dataSizedComponentBuckets(labelRows: Long): Int =
    math.min(1L << 14, math.max(8L, labelRows / 6000000L)).toInt

  private def componentBucket(c: Column, nBuckets: Int): Column =
    pmod(c, lit(nBuckets.toLong))

  /** The store's persisted bucket count — a `_meta` sidecar INSIDE the
    * label dir (underscore-prefixed: parquet scans ignore it). The
    * bucket count is frozen into the directory layout at write time
    * (cb = component mod N); merging or reading with a different N
    * would silently prune the wrong directories, so every merge
    * resolves N from this sidecar and fail-fasts on a mismatch. */
  def readComponentStoreMeta(spark: org.apache.spark.sql.SparkSession,
                             path: String): Option[Int] =
    graft.etl.StoreMeta.read(spark, path)

  def writeComponentStoreMeta(spark: org.apache.spark.sql.SparkSession,
                              path: String, nBuckets: Int): Unit =
    graft.etl.StoreMeta.write(spark, path, nBuckets)

  /** Resolve the effective bucket count for an operation against the
    * store at `path`: the persisted meta wins; an explicit caller N
    * must MATCH it (the guard — a mismatch used to silently mis-prune);
    * a store with label data but no meta is a pre-meta layout and
    * fail-fasts with the migration recipe rather than guessing. The
    * fallback (fresh store, no meta) is the caller's N or `dataSized`
    * for [[StoreSizedBuckets]]. */
  private def resolveStoreBuckets(spark: org.apache.spark.sql.SparkSession,
                                  path: String, requested: Int,
                                  dataSized: => Int): Int =
    readComponentStoreMeta(spark, path) match {
      case Some(m) =>
        require(requested == StoreSizedBuckets || requested == m,
          s"component store at $path is bucketed with nBuckets=$m but the " +
            s"caller passed $requested — merging with a mismatched bucket " +
            "count silently mis-prunes; pass StoreSizedBuckets (0) to use " +
            "the store's own N, or migrate via rebucketComponentStore")
        m
      case None =>
        val p = new org.apache.hadoop.fs.Path(path)
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val hasData = fs.exists(p) &&
          fs.listStatus(p).exists(_.getPath.getName.startsWith("cb="))
        require(!hasData,
          s"component store at $path has label data but no _graft_meta " +
            "sidecar (pre-meta layout): stamp the verified bucket count " +
            "via writeComponentStoreMeta, or rebuild through " +
            "rebucketComponentStore")
        if (requested == StoreSizedBuckets) dataSized else requested
    }

  /** BUCKET-PARTITIONED persisted component label store — the layout
    * that makes [[mergeComponentStoreDelta]]'s per-batch WRITE
    * O(touched buckets) instead of node-sized. Labels are parquet
    * partitioned by `cb = component mod nBuckets` (the COMPONENT, not
    * the node: a delta that merges components moves exactly the rows
    * labeled by the touched roots, and those rows live in precisely
    * the touched roots' bucket directories — bucketing by node would
    * scatter one merged component's rewrites across every bucket). */
  def writeComponentStore(labels: DataFrame, path: String,
                          nBuckets: Int = StoreSizedBuckets): Unit = {
    val spark = labels.sparkSession
    // materialize once: the data-sized default needs a count, and the
    // partitioned write must not recompute an arbitrary upstream plan
    val rows = labels.select(col("node"), col("component")).localCheckpoint()
    val n = resolveStoreBuckets(spark, path, nBuckets,
      dataSizedComponentBuckets(rows.count()))
    // meta FIRST: a crash between the two writes leaves meta + no
    // labels, which reads as an empty store with a pinned N — the
    // retry rewrites; labels-without-meta would fail-fast instead
    writeComponentStoreMeta(spark, path, n)
    graft.etl.Sinks.overwritePartitions(
      rows.withColumn("cb", componentBucket(col("component"), n)),
      path, Seq("cb"))
  }

  /** The store scan: partition column comes back type-inferred, so pin
    * it before arithmetic; an absent store — or one holding only the
    * `_graft_meta` sidecar (the crash window between meta and the
    * first label write) — reads as empty (day zero). */
  def readComponentStore(spark: org.apache.spark.sql.SparkSession,
                         path: String): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p) &&
        fs.listStatus(p).exists(_.getPath.getName.startsWith("cb=")))
      spark.read.parquet(path)
        .select(col("node"), col("component"), col("cb").cast("long").as("cb"))
    else
      spark.range(0).selectExpr("id AS node", "id AS component",
        "id AS cb")
  }

  /** RESIZE migration for the bucket store — the lifecycle face the
    * frozen-at-write-time bucket count needs: rewrite the labels under
    * a new `cb = component mod newBuckets` layout, leaving the (node,
    * component) rows BIT-IDENTICAL (asserted in ComponentStoreSpec).
    * The new tree (labels + its own `_graft_meta`) stages beside the
    * store and swaps in through the shared staged swap
    * (etl.BucketCompaction.swap): the old tree survives until the new
    * one is in place, and a crash inside the park/publish window heals
    * on entry — the complete staged tree publishes. */
  def rebucketComponentStore(spark: org.apache.spark.sql.SparkSession,
                             path: String, newBuckets: Int): Unit = {
    require(newBuckets > 0, s"rebucketComponentStore: newBuckets=$newBuckets")
    graft.etl.BucketCompaction.healAround(spark, path)
    val rows = readComponentStore(spark, path)
      .select(col("node"), col("component"))
      .withColumn("cb", componentBucket(col("component"), newBuckets))
      .localCheckpoint() // materialize BEFORE any rename touches the source
    graft.etl.BucketCompaction.swap(spark, new org.apache.hadoop.fs.Path(path)) { tmp =>
      rows.write.partitionBy("cb").parquet(tmp.toString)
      writeComponentStoreMeta(spark, tmp.toString, newBuckets)
    }
  }

  /** [[mergeComponentLabels]] against the PERSISTED bucket store, the
    * delta-writable face the streaming fold needs at 10¹¹ nodes: the
    * fold itself was always delta-sized (root contraction), but a flat
    * label table forces a node-sized rewrite per batch even when the
    * delta touches three components. Here the write is
    * O(rows in touched buckets):
    *
    *  1. delta endpoints resolve to current roots (one store equi-join;
    *     the READ side stays a full two-column columnar scan — it is
    *     the write amplification this layout removes);
    *  2. CC runs over the |delta|-many contracted root pairs and yields
    *     the root remap, FILTERED to actual moves;
    *  3. touched buckets = buckets of moved old roots ∪ buckets of
    *     their new roots ∪ buckets of brand-new nodes' components —
    *     a frame bounded by the delta, collected (≤ nBuckets values);
    *  4. ONLY those buckets' rows are read back (partition pruning on
    *     cb), re-rooted, unioned with the new-node rows and rewritten
    *     via dynamic partition overwrite. CLOSURE: a row outside the
    *     touched buckets cannot need rewriting (its component changed
    *     ⟹ its component is a moved root ⟹ its bucket is touched),
    *     and every rewritten row lands in a touched bucket (unchanged
    *     rows stay put; moved rows land in their new root's bucket,
    *     touched by construction) — asserted file-level in
    *     ComponentStoreSpec.
    *
    * The merge stays EXACT (min-id contraction, see
    * [[mergeComponentLabels]]) so the store equals a full rebuild
    * bit-for-bit, and it is REPLAY-SAFE: a re-run of the same delta
    * finds no moved roots and no new nodes and writes nothing, while a
    * retry over a partially-committed overwrite re-merges the affected
    * roots and dedups duplicated node rows through the groupBy-min
    * fold. A touched bucket whose rows ALL moved elsewhere is absent
    * from the dynamic overwrite and its stale directory is deleted
    * explicitly. Returns the touched bucket ids (empty = no-op). */
  def mergeComponentStoreDelta(spark: org.apache.spark.sql.SparkSession,
                               path: String, deltaEdges: DataFrame,
                               aCol: String, bCol: String,
                               nBuckets: Int = StoreSizedBuckets): Seq[Long] = {
    val store = readComponentStore(spark, path)
    val lbl = store.select(col("node"), col("component"))
    val (remap, deltaNodes) = contractDelta(lbl, deltaEdges, aCol, bCol)
    val newRows = remapWith(remap)(
        deltaNodes.join(lbl.select(col("node")), Seq("node"), "left_anti"))
      .localCheckpoint()
    // resolve N: persisted meta wins (mismatch fail-fasts); a fresh
    // store data-sizes from the first batch's new nodes — small for a
    // stream's day zero, which is exactly when few buckets are right
    val metaBefore = readComponentStoreMeta(spark, path)
    val nBucketsEff = resolveStoreBuckets(spark, path, nBuckets,
      dataSizedComponentBuckets(newRows.count()))
    if (metaBefore.isEmpty) writeComponentStoreMeta(spark, path, nBucketsEff)
    val touched = remap
      .select(componentBucket(col("__root"), nBucketsEff).as("cb"))
      .unionByName(remap.select(componentBucket(col("__new"), nBucketsEff).as("cb")))
      .unionByName(newRows.select(componentBucket(col("component"), nBucketsEff).as("cb")))
      .distinct().collect().map(_.getLong(0)).sorted.toSeq
    if (touched.nonEmpty) {
      val cur = store.filter(col("cb").isin(touched: _*))
        .select(col("node"), col("component"))
      // groupBy-min dedup makes a crash-retry self-healing: a partially
      // committed overwrite can leave a moved node in both its old and
      // new bucket, and the re-merge must collapse the copies
      // materialize BEFORE overwriting what it read; the present-
      // bucket set rides the pin's own job (r17, ObservedPin — was a
      // separate collect job per merge)
      val (out, om) = graft.etl.ObservedPin(
        remapWith(remap)(cur).unionByName(newRows)
          .groupBy(col("node")).agg(min(col("component")).as("component"))
          .withColumn("cb", componentBucket(col("component"), nBucketsEff)),
        Seq(collect_set(col("cb")).as("__cbs")))
      graft.etl.Sinks.overwritePartitions(out, path, Seq("cb"))
      val present = om.map(graft.etl.ObservedPin.values(_, "__cbs")
          .map(_.asInstanceOf[Long]).toSet)
        .getOrElse(out.select(col("cb")).distinct()
          .collect().map(_.getLong(0)).toSet)
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      touched.filterNot(present).foreach { b =>
        fs.delete(new org.apache.hadoop.fs.Path(s"$path/cb=$b"), true): Unit
      }
    }
    touched
  }

  /** [[connectedComponents]] plus the number of propagation rounds it
    * took to converge (exposed for scale tests — with pointer jumping
    * the label's reach doubles-plus-one per round, so a path graph of
    * diameter D converges in ~log2(D) + 2 rounds). */
  def connectedComponentsWithRounds(pairs: DataFrame, aCol: String, bCol: String,
                                    maxIter: Int = 50): (DataFrame, Int) = {
    val und = pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
      .union(pairs.select(col(bCol).as("src"), col(aCol).as("dst")))
      // hash-partition the edge table on the per-round probe key ONCE
      // (the PageRank.ranks discipline — r16): localCheckpoint
      // preserves outputPartitioning, so every round's labels⋈und join
      // exchanges only the node-sized label table; the edge table, the
      // corpus-sized side, never moves again. The old edge distinct()
      // is GONE with its corpus-sized exchange: min-label propagation
      // is multiplicity-insensitive (min over a multiset), so
      // duplicate edge rows change nothing but the per-round join
      // volume — callers pass deduped pair sets (LSH verify output,
      // store logs), where the worst case is the 2× of a both-
      // directions input, cheaper than a dedup exchange every call.
      .repartition(col("dst")).localCheckpoint()
    var labels = und.select(col("src").as("node")).distinct()
      .withColumn("component", col("node")).localCheckpoint()
    var converged = false
    var it = 0
    while (!converged && it < maxIter) {
      // neighbor candidates carry __old = null; the single tagged
      // labels row per node carries the old label, recovered by
      // min(__old) (min ignores nulls)
      val viaNeighbors = und
        .join(labels.withColumnRenamed("node", "dst"), Seq("dst"))
        .select(col("src").as("node"), col("component"))
        .withColumn("__old", lit(null).cast(labels.schema("component").dataType))
      val propagated = labels.withColumn("__old", col("component"))
        .unionByName(viaNeighbors)
        .groupBy(col("node"))
        .agg(min(col("component")).as("component"), min(col("__old")).as("__old"))
      // pointer jump: shortcut each label through the PREVIOUS round's
      // label table (component ← labels(component)). Safe because every
      // label value is itself a node of the same component, and
      // labels(L) ≤ L is a min over that same component — so the
      // shortcut only ever accelerates, never crosses components. This
      // is what turns O(diameter) propagation into O(log diameter).
      // Round 1 SKIPS it (r16): the initial label table is the
      // identity map (node = component), so the jump join would
      // rewrite every label to itself — one node-sized join + exchange
      // per CC call for nothing.
      val next =
        if (it == 0) propagated
        else propagated
          .join(labels.select(col("node").as("component"),
            col("component").as("__jump")), Seq("component"), "left")
          .select(col("node"),
            coalesce(col("__jump"), col("component")).as("component"),
            col("__old"))
      // the round's ONE materialization, kept whole-stage-codegen:
      // localCheckpoint pins the round (r16 — this replaces a per-round
      // DataFrame→RDD[Row]→DataFrame round-trip whose row conversion
      // ran outside codegen on every row of every round), and the
      // convergence count rides the SAME job as an observed metric —
      // no second action (ObsProbe verified Observation fires on an
      // eager localCheckpoint). Watchdog fallback: the listener is
      // async, so if the metric somehow never lands, a narrow scan of
      // the checkpointed blocks answers the same question.
      val obs = org.apache.spark.sql.Observation()
      val pinned = next
        .observe(obs, count(when(col("component") =!= col("__old"), 1))
          .as("changed"))
        .localCheckpoint()
      converged = {
        import scala.concurrent.{Await, Future, blocking}
        import scala.concurrent.duration._
        import scala.concurrent.ExecutionContext.Implicits.global
        // blocking{} marks the wait as managed-blocking so the global
        // fork-join pool spawns a compensating thread: a timed-out
        // waiter abandoned by Await no longer pins one of the pool's
        // fixed worker slots, so repeated timeouts across many CC
        // rounds cannot starve the pool into 60s stalls.
        try Await.result(Future(blocking(obs.get)), 60.seconds)("changed")
          .asInstanceOf[Long] == 0L
        catch { case _: java.util.concurrent.TimeoutException =>
          pinned.filter(col("component") =!= col("__old")).isEmpty
        }
      }
      labels = pinned.drop("__old")
      it += 1
    }
    require(converged, s"connectedComponents did not converge in $maxIter rounds")
    (labels, it)
  }

  /** End-to-end dedup survivorship: near-dup pairs → components →
    * one canonical survivor per group (best `qualityCol`, ties to the
    * smallest id — the reference's keep-min-key discipline). Returns
    * one row per multi-member group: (component, keep_id, n_members).
    * Docs in no pair survive trivially and are not listed. */
  def survivors(docs: DataFrame, idCol: String, textCol: String,
                qualityCol: String, threshold: Double = 0.8): DataFrame =
    survivorsFromLabels(docs,
      connectedComponents(
        minHashNearDups(docs, idCol, textCol, threshold), "id_a", "id_b"),
      idCol, qualityCol)

  /** The survivor pick over an EXISTING (node, component) label frame —
    * ONE home for the keep-best (quality desc, ties to smallest id)
    * readout, shared by [[survivors]] (fresh full-corpus CC) and the
    * d7b face (labels from the incrementally-maintained bucket store),
    * so the d7 ≡ d7b tie-break contract cannot silently drift. */
  def survivorsFromLabels(docs: DataFrame, labels: DataFrame, idCol: String,
                          qualityCol: String): DataFrame = {
    val members = docs.select(col(idCol).as("node"), col(qualityCol))
      .join(labels.select(col("node"), col("component")), Seq("node"))
    val w = Window.partitionBy(col("component"))
      .orderBy(col(qualityCol).desc, col("node"))
    members.withColumn("__rn", row_number().over(w))
      .groupBy(col("component"))
      .agg(min(when(col("__rn") === 1, col("node"))).as("keep_id"),
        count(lit(1)).as("n_members"))
  }

  /** Duplicated-span statistics — the scalable approximation of
    * suffix-array substring dedup (the published "dedup makes LMs
    * better" recipe finds long substrings repeated ACROSS documents;
    * its distributed stand-in is long-n-gram document frequency): per
    * doc, how many of its distinct word n-grams also occur in ≥1 other
    * doc, and the fraction.
    *
    * Shape at 100 TB: grams travel as 60-bit portable PolyHash keys
    * (8-byte shuffle rows); the per-gram doc-frequency aggregate and
    * the gram→doc join both run on the same gram-hash partitioning, so
    * the plan is: one (id, gram) distinct, one gram-key aggregate +
    * co-partitioned join back, one per-doc aggregate. Docs shorter
    * than n words carry zero grams and are reported with n_grams = 0
    * via the left join from the id spine. */
  def duplicatedGramStats(df: DataFrame, idCol: String, textCol: String,
                          n: Int = 8): DataFrame = {
    // map-side distinct grams (WordNGrams byte-slicer); no distinct()
    // exchange needed after hashing — rows are unique per (id, hash)
    // up to intra-doc 60-bit collisions (~n_grams²/2^60, never)
    val grams = df.select(col(idCol).as("__id"),
        explode(graft.functions.WordNGrams.grams(col(textCol), n)).as("__s"))
      .select(col("__id"), PolyHash.polyHash(col("__s")).as("__g"))
    val gramDocCount = grams.groupBy(col("__g"))
      .agg(count(lit(1)).as("__dc"))
    val perDoc = grams.join(gramDocCount, Seq("__g"))
      .groupBy(col("__id"))
      .agg(count(lit(1)).as("n_grams"),
        count(when(col("__dc") >= 2, 1)).as("n_dup_grams"))
    df.select(col(idCol).as("__id"))
      .join(perDoc, Seq("__id"), "left")
      .select(col("__id").as(idCol),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_dup_grams"), lit(0L)).as("n_dup_grams"))
      .withColumn("dup_frac",
        when(col("n_grams") > 0,
          col("n_dup_grams").cast("double") / col("n_grams")))
  }

  /** Repeated-span REMOVAL — the operation the "dedup makes LMs
    * better" recipe actually performs (strip every substring that
    * occurs verbatim in ≥ minDf documents), approximated at span
    * granularity: a token is removed when ANY n-token gram covering it
    * has corpus document-frequency ≥ minDf. `duplicatedGramStats`
    * measures the phenomenon; this op edits the corpus.
    *
    * Shape at 100 TB: tokens shuffle ONCE on doc id (the gram window,
    * the coverage anti-join and the ordered reassembly all reuse that
    * partitioning); grams travel as 8-byte PolyHash keys to a
    * corpus-wide doc-frequency aggregate; the dup-gram set (tiny — df
    * ≥ minDf survivors only) joins back on the gram key. Reassembly is
    * an ordered-window collect_list, not a sort_array lambda, so the
    * whole plan stays codegen. */
  def repeatedSpanStrip(df: DataFrame, idCol: String, textCol: String,
                        n: Int = 8, minDf: Int = 2): DataFrame = {
    val byDoc = Window.partitionBy(col("__id")).orderBy(col("pos"))
    val leads = (1 until n).map(k => lead(col("__w"), k).over(byDoc))
    val toks = df
      .select(col(idCol).as("__id"), posexplode(split(col(textCol), " ")))
      .withColumnRenamed("col", "__w")
    val grams = toks
      .withColumn("__s", concat_ws(" ", col("__w") +: leads: _*))
      .filter(size(split(col("__s"), " ")) === n)
      .select(col("__id"), col("pos"), PolyHash.polyHash(col("__s")).as("__g"))
    val dupGrams = grams.select(col("__id"), col("__g")).distinct()
      .groupBy(col("__g")).agg(count(lit(1)).as("__dc"))
      .filter(col("__dc") >= minDf)
      .select(col("__g"))
    val covered = grams.join(dupGrams, Seq("__g"))
      .select(col("__id"),
        explode(sequence(col("pos"), col("pos") + lit(n - 1))).as("pos"))
      .distinct()
    val kept = toks.join(covered, Seq("__id", "pos"), "left_anti")
    val ordered = Window.partitionBy(col("__id")).orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val stripped = kept
      .withColumn("__all", collect_list(col("__w")).over(ordered))
      .groupBy(col("__id"))
      .agg(first(array_join(col("__all"), " ")).as("stripped_text"),
        count(lit(1)).as("n_kept"))
    df.select(col(idCol).as("__id"),
        size(split(col(textCol), " ")).cast("long").as("n_tokens"))
      .join(stripped, Seq("__id"), "left")
      .select(col("__id").as(idCol), col("n_tokens"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (col("n_tokens") - coalesce(col("n_kept"), lit(0L))).as("n_removed"),
        coalesce(col("stripped_text"), lit("")).as("stripped_text"))
  }

  /** Brute-force n-gram Jaccard pairs within an id window — the
    * verification baseline for the LSH variants. */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        threshold: Double, shingleN: Int = 3): DataFrame = {
    // materialized BEFORE the pair join: otherwise Catalyst may collapse
    // the interpreted shingle HOF into the join side and re-evaluate it
    // per PAIR instead of per row
    val withSh = df
      .select(col(idCol).as("__id"), shingles(col(textCol), shingleN).as("__sh"))
      .filter(size(col("__sh")) > 0)
      .localCheckpoint()
    val a = withSh.select(col("__id").as("id_a"), col("__sh").as("sh_a"))
    val b = withSh.select(col("__id").as("id_b"), col("__sh").as("sh_b"))
    a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .withColumn("jaccard", jaccard(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Embedding cosine near-duplicates, brute force all-pairs. Norms
    * are computed ONCE per row before the pair join (the naive
    * per-pair cosine recomputes both norms n times each); the pair
    * expression is a single dot product + scalar division, matching
    * the oracle's dot/(na*nb) op-for-op. */
  /** Hyperplane-LSH embedding near-duplicates — the scale path for
    * [[embeddingNearDups]]'s labeled quadratic baseline, completing
    * for the vector column what MinHash banding (d2) does for text:
    * sign-LSH band signatures ([[graft.functions.HyperplaneSig]], one
    * codegen call/row), candidates from equi-joins on (band, value),
    * exact cosine verification identical op-for-op to the brute
    * force's expression.
    *
    * Shape at 100 TB: the signature is a pure map (no stored
    * hyperplane matrix — components derive from the bit index); the
    * candidate exchange carries (band, 8-byte value, id) rows; vectors
    * enter a join only id-keyed for verification of candidate pairs.
    * Recall: a pair at cosine 1−ε has per-bit flip probability
    * √(2ε)/π, so 4 bands × 16 bits give miss ≈ (16·√(2ε)/π)^4 — at
    * the planted-dup margins this operator is for (ε ≤ 5e−7, miss
    * < 1e−9) banding equals brute force; random pairs collide on a
    * band with probability 2^−16. */
  def hyperplaneNearDups(df: DataFrame, idCol: String, vecCol: String,
                         threshold: Double, bands: Int = 4,
                         bits: Int = 16): DataFrame = {
    import graft.functions.{HyperplaneSig, VectorFunctions => VF}
    val e = df.select(col(idCol).as("__id"),
        col(vecCol).cast("array<double>").as("__v"))
      .withColumn("__n", VF.norm(col("__v")))
    val sigs = e.select(col("__id"),
        posexplode(HyperplaneSig.bandSigs(col("__v"), bands, bits))
          .as(Seq("__band", "__val")))
    val cand = sigs.as("a").join(sigs.as("b"),
        col("a.__band") === col("b.__band") &&
          col("a.__val") === col("b.__val") &&
          col("a.__id") < col("b.__id"))
      .select(col("a.__id").as("id_a"), col("b.__id").as("id_b"))
      .distinct()
    cand
      .join(e.select(col("__id").as("id_a"), col("__v").as("v_a"),
        col("__n").as("n_a")), "id_a")
      .join(e.select(col("__id").as("id_b"), col("__v").as("v_b"),
        col("__n").as("n_b")), "id_b")
      .withColumn("cosine",
        VF.dot(col("v_a"), col("v_b")) / nullif(col("n_a") * col("n_b"), lit(0.0)))
      .filter(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), col("cosine"))
  }

  def embeddingNearDups(df: DataFrame, idCol: String, vecCol: String,
                        threshold: Double): DataFrame = {
    import graft.functions.{VectorFunctions => VF}
    val e = df.select(col(idCol).as("__id"),
      col(vecCol).cast("array<double>").as("__v"))
      .withColumn("__n", VF.norm(col("__v")))
    val a = e.select(col("__id").as("id_a"), col("__v").as("v_a"), col("__n").as("n_a"))
    val b = e.select(col("__id").as("id_b"), col("__v").as("v_b"), col("__n").as("n_b"))
    a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .withColumn("cosine",
        VF.dot(col("v_a"), col("v_b")) / nullif(col("n_a") * col("n_b"), lit(0.0)))
      .filter(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), col("cosine"))
  }
}
