package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact-threshold set-similarity self-join via prefix filtering —
  * the PPJoin/AllPairs family (Bayardo et al. WWW'07, Xiao et al.
  * ICDE'08): all pairs of documents whose shingle-set Jaccard
  * similarity reaches `threshold`, with NO quadratic pair scan and,
  * unlike the MinHash path ([[Dedup.minHashNearDups]]), NO
  * probabilistic-recall caveat — the prefix filter is a theorem, not
  * an estimator, so the output equals the brute-force join exactly.
  *
  * Candidate generation: order every document's tokens by ascending
  * corpus document-frequency (rarest first; ties by token digest — a
  * single GLOBAL total order). A pair with Jaccard >= t must share at
  * least ceil(t*|d|) tokens with any qualifying partner, so if a
  * document's (|d| - ceil(t*|d|) + 1)-token prefix shares nothing
  * with the other document's prefix, the pair cannot qualify: the
  * smallest shared token under the global order provably sits in BOTH
  * prefixes. Rarest-first ordering is what makes the filter sharp —
  * stopword-like shingles land at the END of the order and never
  * enter a prefix, so the candidate join fans out on rare tokens
  * only.
  *
  * Shape at 100 TB:
  *  - tokens are exploded MAP-SIDE from the [[graft.functions.WordNGrams]]
  *    byte-slicer and immediately collapsed to 8-byte xxhash64
  *    digests — no exchange in the whole operator carries shingle
  *    text (the d2/t22 discipline). A digest collision can only merge
  *    two shingles corpus-wide, inflating an intersection by 1; at
  *    64 bits this needs ~2^32 DISTINCT shingles per corpus to reach
  *    even-odds anywhere (the d1 contract, documented there).
  *  - the document-frequency pass and the per-document rank window
  *    both shuffle (id, digest) pairs — 16 bytes/token, the same
  *    metadata-only scale as t12's count join.
  *  - the candidate join keys on single token digests but only over
  *    PREFIX rows: each document contributes |d|(1-t)+1 rows, ~20% of
  *    its tokens at t=0.8, and the hottest (stopword) tokens are
  *    excluded by construction. Candidate pairs are deduplicated
  *    before verification.
  *  - verification never materializes per-document arrays into the
  *    join: intersection sizes come from re-joining the (id, digest)
  *    token rows of the CANDIDATE documents only — output-scale work.
  *
  * Returns (id_a, id_b, jaccard) with id_a < id_b, jaccard exact
  * (intersection / (|a| + |b| - intersection) over distinct shingle
  * sets), one row per qualifying pair.
  */
object SetSimJoin {

  /** Map-side token rows: one (doc id, set size, 8-byte shingle
    * digest) row per distinct shingle — the exchange/storage format of
    * both the batch and incremental faces (never shingle text). */
  private[graft] def tokenRows(df: DataFrame, idCol: String, textCol: String,
                             shingleN: Int): DataFrame =
    df.select(col(idCol).as("__id"),
        Dedup.shingles(col(textCol), shingleN).as("__sh"))
      .filter(size(col("__sh")) > 0)
      .select(col("__id"), size(col("__sh")).as("__sz"),
        explode(col("__sh")).as("__s"))
      .select(col("__id"), col("__sz"), xxhash64(col("__s")).as("__tok"))

  /** The token stores' sidecar family. `shingleN` is FROZEN into the
    * persisted digest rows (each `__tok` is the hash of an n-shingle
    * and each `__sz` the doc's distinct n-shingle count): a delta
    * re-shingled at a different n joins incomparable digests and
    * verifies against wrong set sizes — silent garbage, the class
    * `requireFamily` fail-fasts for every other pinned store. Probes
    * therefore resolve shingleN FROM the pin (0 = resolve) and
    * fail-fast an explicit expectation that disagrees. */
  private[graft] val TokenFamily = "setsim_tokens"
  val DefaultShingleN = 3

  private def metaInt(m: Map[String, String], where: String, key: String): Int = {
    require(m.contains(key),
      s"token store at $where pins no '$key' — sidecar: $m")
    m(key).toInt
  }

  /** The pinned shingleN of a token store dir, with an optional caller
    * expectation. */
  private[graft] def tokenStoreShingleN(spark: org.apache.spark.sql.SparkSession,
                                 dir: String, expect: Int): Int = {
    val m = graft.etl.StoreMeta.requireFamily(spark, dir, TokenFamily)
      .getOrElse(sys.error(s"no token store at $dir"))
    val sn = metaInt(m, dir, "shingle_n")
    require(expect <= 0 || expect == sn,
      s"token store at $dir is pinned to shingleN=$sn but the caller " +
        s"expects $expect — digests across shingle widths never match; " +
        "rebuild the store or drop the expectation")
    sn
  }

  /** A catalog table's storage directory — where the bucketed face's
    * pin lives (the table DIR is the persisted artifact; the catalog
    * entry is re-creatable metadata). */
  private def tableLocation(spark: org.apache.spark.sql.SparkSession,
                            table: String): String =
    spark.sessionState.catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier(table))
      .location.toString

  /** Persist a corpus's token rows — the set-similarity store the
    * incremental face joins deltas against (the d9/d3c store pattern:
    * the stored corpus is never re-shingled) — with shingleN frozen in
    * a family-tagged `_graft_meta` sidecar. */
  def writeTokenStore(df: DataFrame, idCol: String, textCol: String,
                      path: String, shingleN: Int = DefaultShingleN,
                      kb: Int = graft.etl.Sinks.DefaultLogBuckets): Unit = {
    // bucketed by doc-id hash (the r16 keyed-log layout): a doc's
    // token rows colocate in one `__kb=` dir, so the append face's
    // existing-id anti-join reads only delta-touched buckets
    tokenRows(df, idCol, textCol, shingleN)
      .withColumn("__kb", graft.etl.Sinks.keyBucket(Seq("__id"), kb))
      .repartition(col("__kb"))
      .write.mode("overwrite").partitionBy("__kb").parquet(path)
    graft.etl.StoreMeta.pinFamily(df.sparkSession, path, TokenFamily,
      Map("shingle_n" -> shingleN.toString, "kb" -> kb.toString))
  }

  /** Bucketed token store (catalog table, bucketBy __tok) — the j9
    * zero-exchange layout applied to the dedup store: the store-side
    * document-frequency aggregate reads pre-clustered buckets and
    * plans NO shuffle (asserted in SetSimJoinSpec), which at 100 TB is
    * the daily job's dominant exchange gone. The pin (shingleN + the
    * bucket count) lands in the TABLE DIRECTORY: the catalog entry is
    * session metadata, the dir is the artifact that outlives it. */
  def writeBucketedTokenStore(df: DataFrame, idCol: String, textCol: String,
                              table: String, buckets: Int,
                              shingleN: Int = DefaultShingleN): Unit = {
    graft.etl.Sinks.writeBucketed(
      tokenRows(df, idCol, textCol, shingleN), table, buckets, Seq("__tok"))
    graft.etl.StoreMeta.pinFamily(df.sparkSession,
      tableLocation(df.sparkSession, table), TokenFamily,
      Map("shingle_n" -> shingleN.toString, "buckets" -> buckets.toString))
  }

  /** Append a delta's token rows to a pinned [[writeTokenStore]] store
    * — the daily-ingest upkeep face (the d9 signature-append
    * discipline applied to the digest rows): the delta is shingled at
    * the STORE's pinned shingleN and appended idempotent on the doc id
    * (a replayed batch inserts nothing; a doc's rows land in one job,
    * so the anti-join key is the doc, not the row). Returns inserted
    * row count. */
  def appendTokenStore(delta: DataFrame, idCol: String, textCol: String,
                       path: String, shingleN: Int = 0): Long = {
    val sn = tokenStoreShingleN(delta.sparkSession, path, shingleN)
    appendTokenRows(tokenRows(delta, idCol, textCol, sn), path)
  }

  /** Append PRE-COMPUTED token rows (a `tokenRows` frame at the
    * store's pinned shingleN) idempotent on the doc id — the streaming
    * face's entry, so a micro-batch shingles exactly once. The novelty
    * anti-join is pruned to the delta's buckets under the pinned `kb`. */
  private[graft] def appendTokenRows(dRows: DataFrame, path: String): Long =
    graft.etl.Sinks.bucketedNoveltyAppend(dRows, path, Seq("__id"),
      graft.etl.Sinks.pinnedKb(path, graft.etl.StoreMeta.requireFamily(
        dRows.sparkSession, path, TokenFamily)))

  /** Exact verification on per-document digest arrays, shared by
    * every face. `restrict = true` semi-joins the token rows to
    * candidate ids first, so array assembly is candidate-scale — the
    * right default for SPARSE-duplicate corpora where candidates touch
    * a small fraction of documents. On the dup-dense bench fixture
    * (every doc has a planted pair) the restriction is pure overhead —
    * measured +16%/+84% on j11/j11b at sf10 — so the registered faces
    * default it OFF; both paths are correctness-equal (spec). */
  private def verifyWithArrays(cand: DataFrame, tokens: DataFrame,
                               threshold: Double,
                               restrict: Boolean): DataFrame = {
    val base =
      if (!restrict) tokens
      else tokens.join(
        cand.select(col("id_a").as("__id"))
          .unionByName(cand.select(col("id_b").as("__id"))).distinct(),
        Seq("__id"), "left_semi")
    val arrs = base
      .groupBy(col("__id"), col("__sz"))
      .agg(collect_list(col("__tok")).as("__arr"))
    cand
      .join(arrs.select(col("__id").as("id_a"), col("__arr").as("__aa")), "id_a")
      .join(arrs.select(col("__id").as("id_b"), col("__arr").as("__ab")), "id_b")
      .withColumn("__int", size(array_intersect(col("__aa"), col("__ab"))).cast("long"))
      .withColumn("jaccard",
        col("__int").cast("double") /
          (col("sz_a") + col("sz_b") - col("__int")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** [[incrementalJaccardJoin]] against a [[writeBucketedTokenStore]]
    * catalog table: identical output and the same one-sided prefix
    * theorem; the difference is pure layout — the corpus-sized
    * frequency count comes from a bucket-clustered aggregate merged
    * with the delta's counts (full-outer sum), so the STORE never
    * shuffles for it. */
  def incrementalJaccardJoinBucketed(delta: DataFrame, idCol: String,
                                     textCol: String, storeTable: String,
                                     threshold: Double,
                                     shingleN: Int = 0,
                                     restrictVerify: Boolean = false): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0)
    val spark = delta.sparkSession
    val loc = tableLocation(spark, storeTable)
    val sn = tokenStoreShingleN(spark, loc, shingleN)
    // the pin also freezes the bucket count — cross-check it against
    // what the catalog believes, so a table rebuilt under the same name
    // with a different layout (or a stale pin) fails fast here instead
    // of silently planning a differently-clustered aggregate
    val pinnedBuckets = graft.etl.StoreMeta.readParams(spark, loc)
      .flatMap(_.get("buckets")).map(_.toInt)
    val catalogBuckets = spark.sessionState.catalog.getTableMetadata(
        spark.sessionState.sqlParser.parseTableIdentifier(storeTable))
      .bucketSpec.map(_.numBuckets)
    require(pinnedBuckets == catalogBuckets,
      s"token store table $storeTable pins buckets=$pinnedBuckets but the " +
        s"catalog holds $catalogBuckets — rebuild through " +
        "writeBucketedTokenStore")
    val dRows = tokenRows(delta, idCol, textCol, sn).localCheckpoint()
    val store = spark.table(storeTable)
    val sf = store.groupBy(col("__tok")).agg(count(lit(1)).as("__cs"))
    val df2 = dRows.groupBy(col("__tok")).agg(count(lit(1)).as("__cd"))
    val freq = sf.join(df2, Seq("__tok"), "full_outer")
      .select(col("__tok"),
        (coalesce(col("__cs"), lit(0L)) + coalesce(col("__cd"), lit(0L)))
          .as("__df"))
    val all = store.unionByName(dRows)
    val ranked = dRows.join(freq, "__tok")
      .withColumn("__rk", row_number().over(
        Window.partitionBy(col("__id")).orderBy(col("__df"), col("__tok"))))
      .withColumn("__p",
        col("__sz") - ceil(col("__sz") * lit(threshold)) + lit(1))
    val aPre = ranked.filter(col("__rk") <= col("__p"))
      .select(col("__tok"), col("__id").as("ia"), col("__sz").as("sa"),
        col("__rk").as("ra"))
    val bAll = all.select(col("__tok"), col("__id").as("ib"), col("__sz").as("sb"))
    val oMin = ceil((col("sa") + col("sb")) * lit(threshold / (1.0 + threshold)))
    val cand = aPre.join(bAll, "__tok")
      .filter(col("ia") =!= col("ib") &&
        col("sb") * lit(threshold) <= col("sa") &&
        col("sa") * lit(threshold) <= col("sb") &&
        (col("sa") - col("ra") + 1) >= oMin)
      .select(when(col("ia") < col("ib"),
          struct(col("ia").as("id_a"), col("ib").as("id_b"),
            col("sa").as("sz_a"), col("sb").as("sz_b")))
        .otherwise(
          struct(col("ib").as("id_a"), col("ia").as("id_b"),
            col("sb").as("sz_a"), col("sa").as("sz_b"))).as("p"))
      .select(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"),
        col("p.sz_a").as("sz_a"), col("p.sz_b").as("sz_b"))
      .distinct()
    verifyWithArrays(cand, all, threshold, restrictVerify)
  }

  /** Incremental exact-threshold set-similarity join: every pair at
    * Jaccard >= `threshold` with AT LEAST ONE side in `delta`, against
    * a [[writeTokenStore]] corpus. The daily-ingest shape: only the
    * delta is shingled; the store contributes digest rows.
    *
    * The prefix filter is ONE-SIDED and still exact: document
    * frequencies are recomputed over store ∪ delta (a digest-row
    * aggregate — no text), the delta documents take prefixes under the
    * combined (df, digest) order, and candidates join delta PREFIX
    * tokens against the FULL token rows of the union. A qualifying
    * pair shares >= ceil(t·|d_delta|) tokens, so the delta side's
    * prefix provably contains a shared token, and the full-set side
    * always holds it — 100% recall with no store-side prefix
    * recomputation (store prefixes under the OLD frequency order would
    * be stale; full-set joining sidesteps that entirely).
    *
    * Returns (id_a, id_b, jaccard), id_a < id_b; delta ids must not
    * collide with store ids. The delta is shingled at the STORE's
    * pinned shingleN (default 0 = resolve from the pin; an explicit
    * disagreeing value fail-fasts). */
  def incrementalJaccardJoin(delta: DataFrame, idCol: String,
                             textCol: String, storePath: String,
                             threshold: Double,
                             shingleN: Int = 0,
                             restrictVerify: Boolean = false): DataFrame = {
    val spark = delta.sparkSession
    val sn = tokenStoreShingleN(spark, storePath, shingleN)
    incrementalJaccardJoinFromRows(
      tokenRows(delta, idCol, textCol, sn).localCheckpoint(),
      storePath, threshold, restrictVerify)
  }

  /** [[incrementalJaccardJoin]] from PRE-COMPUTED delta token rows (a
    * `tokenRows` frame at the store's pinned shingleN, ideally
    * checkpointed) — the entry point for callers that also need the
    * rows afterwards (the streaming face appends them to the store),
    * so the delta text is shingled exactly once per micro-batch. */
  private[graft] def incrementalJaccardJoinFromRows(
      dRows: DataFrame, storePath: String, threshold: Double,
      restrictVerify: Boolean = false): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1], got $threshold")
    val spark = dRows.sparkSession
    // hasData + column-select: a just-pinned bootstrap store holds only
    // the sidecar (pin leads data), and the bucketed layout carries a
    // `__kb` partition column the token frame doesn't
    val store =
      if (graft.etl.StoreMeta.hasData(spark, storePath))
        spark.read.parquet(storePath).select(dRows.columns.map(col): _*)
      else dRows.limit(0)
    val all = store.unionByName(dRows)
    val freq = all.groupBy(col("__tok")).agg(count(lit(1)).as("__df"))
    val ranked = dRows.join(freq, "__tok")
      .withColumn("__rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("__id")).orderBy(col("__df"), col("__tok"))))
      .withColumn("__p",
        col("__sz") - ceil(col("__sz") * lit(threshold)) + lit(1))
    // Delta-side position filter (the store side has no rank — its
    // prefixes would be stale anyway): for a qualifying pair the
    // minimal shared token's delta row satisfies
    // overlap <= sz_delta - rk + 1, so requiring room for o_min keeps
    // 100% recall one-sided.
    val aPre = ranked.filter(col("__rk") <= col("__p"))
      .select(col("__tok"), col("__id").as("ia"), col("__sz").as("sa"),
        col("__rk").as("ra"))
    val bAll = all.select(col("__tok"), col("__id").as("ib"), col("__sz").as("sb"))
    val oMin = ceil((col("sa") + col("sb")) * lit(threshold / (1.0 + threshold)))
    val cand = aPre.join(bAll, "__tok")
      .filter(col("ia") =!= col("ib") &&
        col("sb") * lit(threshold) <= col("sa") &&
        col("sa") * lit(threshold) <= col("sb") &&
        (col("sa") - col("ra") + 1) >= oMin)
      .select(when(col("ia") < col("ib"),
          struct(col("ia").as("id_a"), col("ib").as("id_b"),
            col("sa").as("sz_a"), col("sb").as("sz_b")))
        .otherwise(
          struct(col("ib").as("id_a"), col("ia").as("id_b"),
            col("sb").as("sz_a"), col("sa").as("sz_b"))).as("p"))
      .select(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"),
        col("p.sz_a").as("sz_a"), col("p.sz_b").as("sz_b"))
      .distinct()
    verifyWithArrays(cand, all, threshold, restrictVerify)
  }

  def jaccardJoin(df: DataFrame, idCol: String, textCol: String,
                  threshold: Double, shingleN: Int = 3,
                  restrictVerify: Boolean = false): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1], got $threshold")
    // Map-side: distinct shingles (WordNGrams byte-slicer) -> one row
    // per (doc, 8-byte token digest); set size attached map-side so no
    // extra aggregate is needed for it. Materialized ONCE (without the
    // checkpoint each reference re-shingles the corpus text — the
    // ngramJaccardPairs precedent) and PARTITIONED BY DIGEST, the
    // j9-style co-location: the frequency aggregate and the frequency
    // join both cluster on __tok, so neither moves a row — two
    // corpus-sized exchanges gone.
    val toks = tokenRows(df, idCol, textCol, shingleN)
      .repartition(col("__tok")).localCheckpoint()
    // Corpus document-frequency per token — the global order key.
    val freq = toks.groupBy(col("__tok")).agg(count(lit(1)).as("__df"))
    // Rarest-first rank inside each document under the (df, digest)
    // GLOBAL total order; prefix = first (sz - ceil(t*sz) + 1) tokens.
    val ranked = toks.join(freq, "__tok")
      .withColumn("__rk", row_number().over(
        Window.partitionBy(col("__id")).orderBy(col("__df"), col("__tok"))))
      .withColumn("__p",
        col("__sz") - ceil(col("__sz") * lit(threshold)) + lit(1))
    val prefix = ranked.filter(col("__rk") <= col("__p"))
      .select(col("__tok"), col("__id"), col("__sz"), col("__rk"))
    // Candidate pairs: a shared PREFIX token + the length filter
    // (t*|a| <= |b| and t*|b| <= |a| is necessary for J >= t) + the
    // PPJoin POSITION filter: common elements all rank >= the shared
    // token's rank within each doc, so overlap <= suffix length + 1 on
    // BOTH sides; a pair qualifies only if some shared prefix row
    // leaves room for o_min = ceil(t/(1+t)·(|a|+|b|)) — for a real
    // match the MINIMAL common token's row always does (loosest
    // bound), so recall stays 100% while near-miss candidates drop
    // before the distinct (measured 10.4M -> fewer at 100×; the
    // filter costs one integer compare per joined row).
    val a = prefix.select(col("__tok"), col("__id").as("id_a"),
      col("__sz").as("sz_a"), col("__rk").as("rk_a"))
    val b = prefix.select(col("__tok"), col("__id").as("id_b"),
      col("__sz").as("sz_b"), col("__rk").as("rk_b"))
    val oMin = ceil((col("sz_a") + col("sz_b")) * lit(threshold / (1.0 + threshold)))
    val cand = a.join(b, "__tok")
      .filter(col("id_a") < col("id_b") &&
        col("sz_b") * lit(threshold) <= col("sz_a") &&
        col("sz_a") * lit(threshold) <= col("sz_b") &&
        (col("sz_a") - col("rk_a") + 1) >= oMin &&
        (col("sz_b") - col("rk_b") + 1) >= oMin)
      .select(col("id_a"), col("id_b"), col("sz_a"), col("sz_b"))
      .distinct()
    // Exact verification on per-document DIGEST ARRAYS
    // ([[verifyWithArrays]]): two id-equi joins ship one ~|d|·8-byte
    // array per side per candidate, and the intersection size is
    // computed IN PLACE per row. The first formulation verified via
    // token-row joins — |cand| × |d| rows through an exchange and a
    // grouped count, measured 297 s of j11's 327 s at the 100× point
    // with 10.4M candidates × ~150 tokens ≈ 1.5G rows. Arrays keep
    // verification row count equal to the candidate count, and the
    // semi-join inside the helper keeps array assembly candidate-scale.
    verifyWithArrays(cand, toks, threshold, restrictVerify)
  }

  /** Exact-threshold set-CONTAINMENT join: every DIRECTED pair with
    * C(A→B) = |A∩B| / |A| ≥ `threshold` — the quote/excerpt/subset
    * detector that a Jaccard join structurally misses: a 50-shingle
    * excerpt fully contained in a 500-shingle source has J ≈ 0.1 but
    * C = 1.0 (the asymmetric face of the family; cf. Shrivastava &
    * Li's asymmetric-hashing motivation for the LSH analog).
    *
    * The prefix theorem adapts ONE-SIDED: C(A→B) ≥ t needs
    * |A∩B| ≥ ceil(t·|A|), so A's rarest-first prefix of size
    * |A| − ceil(t·|A|) + 1 provably holds a shared token (pigeonhole
    * on A alone — B needs no prefix, and the only size constraint is
    * |B| ≥ ceil(t·|A|), a lower bound: containment has no symmetric
    * size filter, which is exactly why the symmetric join misses these
    * pairs). Candidates join A-prefix tokens against FULL token rows
    * (the incremental join's one-sided shape); the position filter
    * (|A| − rk + 1 ≥ ceil(t·|A|)) prunes with 100% recall; exact
    * verification on digest arrays. Returns (id_a, id_b, containment)
    * with id_a the CONTAINED side — directed, so both (a,b) and (b,a)
    * can appear (mutual near-equality).
    *
    * Scale shape = jaccardJoin's: one shingle materialization
    * partitioned by digest, 8-byte-token exchanges, prefix rows ~
    * (1−t) of A's tokens, candidate-scale array verify. */
  def containmentJoin(df: DataFrame, idCol: String, textCol: String,
                      threshold: Double, shingleN: Int = 3): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1], got $threshold")
    val toks = tokenRows(df, idCol, textCol, shingleN)
      .repartition(col("__tok")).localCheckpoint()
    val freq = toks.groupBy(col("__tok")).agg(count(lit(1)).as("__df"))
    val ranked = toks.join(freq, "__tok")
      .withColumn("__rk", row_number().over(
        Window.partitionBy(col("__id")).orderBy(col("__df"), col("__tok"))))
      .withColumn("__p",
        col("__sz") - ceil(col("__sz") * lit(threshold)) + lit(1))
    val aPre = ranked.filter(col("__rk") <= col("__p"))
      .select(col("__tok"), col("__id").as("id_a"),
        col("__sz").as("sz_a"), col("__rk").as("rk_a"))
    val bAll = toks.select(col("__tok"), col("__id").as("id_b"),
      col("__sz").as("sz_b"))
    val need = ceil(col("sz_a") * lit(threshold))
    val cand = aPre.join(bAll, "__tok")
      .filter(col("id_a") =!= col("id_b") &&
        col("sz_b") >= need &&
        (col("sz_a") - col("rk_a") + 1) >= need)
      .select(col("id_a"), col("id_b"), col("sz_a"), col("sz_b"))
      .distinct()
    val arrs = toks.groupBy(col("__id"), col("__sz"))
      .agg(collect_list(col("__tok")).as("__arr"))
    cand
      .join(arrs.select(col("__id").as("id_a"), col("__arr").as("__aa")), "id_a")
      .join(arrs.select(col("__id").as("id_b"), col("__arr").as("__ab")), "id_b")
      .withColumn("__int",
        size(array_intersect(col("__aa"), col("__ab"))).cast("long"))
      .withColumn("containment", col("__int").cast("double") / col("sz_a"))
      .filter(col("containment") >= threshold)
      .select(col("id_a"), col("id_b"), col("containment"))
  }
}
