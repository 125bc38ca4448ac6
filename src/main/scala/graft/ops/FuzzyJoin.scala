package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.DeletionHoods

/** Approximate-string (edit-distance) self-join — record linkage /
  * dirty-entity resolution over short keys: find every pair of rows
  * whose `strCol` values are within `maxDist` Levenshtein edits,
  * WITHOUT the quadratic all-pairs comparison.
  *
  * Candidate generation is deletion-neighborhood blocking
  * ([[graft.functions.DeletionHoods]], FastSS/SymSpell family): each
  * row emits the 64-bit hashes of its string and of every <=maxDist
  * single-character deletions; two strings within `maxDist` edits
  * provably share a key, so an equi-join on the 8-byte key hash has
  * 100% recall. Verification (`levenshtein` with Spark's
  * early-exit threshold form) restores precision, and the final
  * `distinct` collapses pairs that met on several keys.
  *
  * `blockCols` adds CONJUNCTIVE blocking (standard record-linkage
  * discipline): only rows agreeing on every block column may pair.
  * The block values are hashed INTO the 8-byte candidate key, so
  * disagreeing rows never even meet in the join — the guard costs
  * zero extra exchanges and divides candidate volume by the block
  * cardinality (measured on c4: 262.5k candidate pairs → 2.3k, the
  * fuzzy stage 10.3 s → ~1 s at sf0.1). Block equality is re-verified
  * exactly alongside the levenshtein check, so key-hash collisions
  * cannot leak cross-block pairs.
  *
  * Shape at 100 TB:
  *  - candidate generation is a pure map (native expression, one
  *    explode) — no pre-shuffle;
  *  - the ONLY corpus-sized exchange is the equi-join on the 8-byte
  *    key hash; rows carry (id, short string), so the exchange moves
  *    ~(8 + |key string|) bytes per neighborhood entry — for
  *    name-length strings that is digest-scale, which is why the
  *    string rides along instead of a second join-back pass (the
  *    discipline for DOCUMENT-sized payloads — d2/c2/t22 — would
  *    join text back for survivors only);
  *  - block sizes are bounded by how many DISTINCT strings can share
  *    a deletion residue — for natural key data (names, codes,
  *    titles) tens, not thousands. Mass-DUPLICATED keys (d2's hot-band
  *    adversary) are neutralized structurally: the operator collapses
  *    to distinct strings before any fuzzy work and re-expands id
  *    pairs only at output, so k copies of a key cost one string plus
  *    the output rows they genuinely produce (measured at 10×-replicated
  *    names: 161.6 s → 5.8 s, a 36× blowup flattened to 1.05×;
  *    PERFORMANCE.md).
  *
  * Returns (id_a, id_b, dist) with id_a < id_b, one row per matched
  * pair. Equal strings on different ids match at dist 0 (within the
  * same block when `blockCols` is set).
  */
object FuzzyJoin {

  /** Deletion-hood key rows for a rep table (one row per distinct
    * (strCol, blockCols), carrying `__rid`): one output row per
    * (rep, hood key), block values hashed into `__k` exactly as the
    * self-join does. */
  private def keyedHoods(reps: DataFrame, strCol: String, maxDist: Int,
                         blockCols: Seq[String]): DataFrame = {
    val bc = blockCols.map(col)
    reps
      .withColumn("__k0", explode(DeletionHoods.hoods(col(strCol), maxDist)))
      .withColumn("__k",
        if (blockCols.isEmpty) col("__k0")
        else xxhash64(col("__k0") +: bc: _*))
      .drop("__k0")
  }

  /** The hood index's sidecar family. Both parameters are FROZEN into
    * the persisted keys: `maxDist` decides the deletion depth every
    * `__k` was generated at (depth-1 and depth-2 hood sets never
    * intersect correctly across builds), and `blockCols` are hashed
    * INTO `__k` — probing with either one different yields silently
    * empty/garbage candidate sets. So the writer pins them, and the
    * delta probe resolves maxDist FROM the store (0 = resolve) and
    * requires the caller's blockCols to equal the pinned list exactly
    * (they also name delta columns, so they cannot be inferred). */
  private[graft] val HoodFamily = "fuzzy_hoods"

  /** Persist the deletion-neighborhood index of a rep table — the
    * store half of the incremental fuzzy join (d9's discipline for
    * edit distance): (hood key, string, blocks, rep id) rows written
    * once; later deltas equi-join their own hoods against it, so the
    * store is never re-scanned for candidate generation. (maxDist,
    * blockCols) freeze into a family-tagged `_graft_meta` sidecar. */
  def writeHoodIndex(reps: DataFrame, idCol: String, strCol: String,
                     path: String, maxDist: Int = 1,
                     blockCols: Seq[String] = Nil,
                     kb: Int = graft.etl.Sinks.DefaultLogBuckets): Unit = {
    require(maxDist >= 1 && maxDist <= 2,
      s"maxDist must be 1 or 2, got $maxDist")
    // bucketed by rep-id hash (the r16 keyed-log layout): a rep's hood
    // rows colocate, so the append face's existing-rid anti-join reads
    // only delta-touched buckets
    keyedHoods(
      reps.select(col(idCol).as("__rid") +: col(strCol).as("__s") +:
        blockCols.map(col): _*), "__s", maxDist, blockCols)
      .withColumn("__kb", graft.etl.Sinks.keyBucket(Seq("__rid"), kb))
      .repartition(col("__kb"))
      .write.mode("overwrite").partitionBy("__kb").parquet(path)
    graft.etl.StoreMeta.pinFamily(reps.sparkSession, path, HoodFamily, Map(
      "max_dist" -> maxDist.toString,
      "block_cols" -> blockCols.mkString(","),
      "kb" -> kb.toString))
  }

  /** Resolve a hood index's pinned maxDist, fail-fast on a pre-pin or
    * foreign-family store, a disagreeing explicit expectation
    * (`expectMaxDist > 0`), or blockCols that differ from the pin. */
  private def hoodIndexMaxDist(spark: org.apache.spark.sql.SparkSession,
                               path: String, expectMaxDist: Int,
                               blockCols: Seq[String]): Int =
    hoodIndexPin(spark, path, expectMaxDist, blockCols)._1

  /** [[hoodIndexMaxDist]] plus the full pin map (for `kb`). */
  private def hoodIndexPin(spark: org.apache.spark.sql.SparkSession,
                           path: String, expectMaxDist: Int,
                           blockCols: Seq[String]): (Int, Map[String, String]) = {
    val m = graft.etl.StoreMeta.requireFamily(spark, path, HoodFamily)
      .getOrElse(sys.error(s"no hood index at $path"))
    require(m.contains("max_dist"),
      s"hood index at $path pins no 'max_dist' — sidecar: $m")
    val md = m("max_dist").toInt
    require(expectMaxDist <= 0 || expectMaxDist == md,
      s"hood index at $path is pinned to maxDist=$md but the caller " +
        s"expects $expectMaxDist — deletion hoods across depths never " +
        "join correctly; rebuild the index or drop the expectation")
    val pinnedBlocks = m.getOrElse("block_cols", "")
    require(pinnedBlocks == blockCols.mkString(","),
      s"hood index at $path is pinned to blockCols=[$pinnedBlocks] but " +
        s"the caller probes with [${blockCols.mkString(",")}] — block " +
        "values are hashed into every stored key; the probe would be " +
        "silently empty")
    (md, m)
  }

  /** Append a delta's hood rows to a pinned [[writeHoodIndex]] index —
    * the upkeep face that turns the fuzzy join into a store triple
    * (write / probe / append): hoods are generated at the INDEX's
    * pinned (maxDist, blockCols) and appended idempotent on the rep id
    * (a replayed batch inserts nothing; a rep's rows land in one job).
    * Returns inserted row count. */
  def appendHoodIndex(deltaReps: DataFrame, idCol: String, strCol: String,
                      path: String, maxDist: Int = 0,
                      blockCols: Seq[String] = Nil): Long = {
    val (md, m) = hoodIndexPin(deltaReps.sparkSession, path, maxDist, blockCols)
    val hoods = keyedHoods(
      deltaReps.select(col(idCol).as("__rid") +: col(strCol).as("__s") +:
        blockCols.map(col): _*), "__s", md, blockCols)
    // novelty read pruned to the delta's buckets under the pinned kb
    graft.etl.Sinks.bucketedNoveltyAppend(hoods, path, Seq("__rid"),
      graft.etl.Sinks.pinnedKb(path, Some(m)))
  }

  /** Incremental fuzzy pairs: `deltaReps` against the persisted hood
    * index PLUS itself — never store-vs-store. Returns rep-level
    * (id_a, id_b, dist, b_in_store): delta-delta pairs ordered
    * id_a < id_b by string (by id when the strings are equal — the
    * dist-0 within-delta case pairs once, like editDistanceJoin);
    * delta-store pairs carry the delta rep as id_a (equal strings
    * across sides pair at dist 0 — that is how an incoming record
    * adopts an existing entity — but a rep never pairs with its own
    * stored row: same-id candidates are guarded out). Candidate volume
    * is delta-hood-sized; the only store access is the 8-byte-key
    * equi-join. */
  def deltaEditDistancePairs(deltaReps: DataFrame, idCol: String,
                             strCol: String, indexPath: String,
                             maxDist: Int = 0,
                             blockCols: Seq[String] = Nil): DataFrame = {
    val spark = deltaReps.sparkSession
    val md = hoodIndexMaxDist(spark, indexPath, maxDist, blockCols)
    val d = keyedHoods(
      deltaReps.select(col(idCol).as("__rid") +: col(strCol).as("__s") +:
        blockCols.map(col): _*), "__s", md, blockCols)
    // hasData + column-select: a just-pinned day-zero index holds only
    // the sidecar (the zero-row bucketed overwrite writes no files),
    // and the bucketed layout carries a `__kb` partition column the
    // delta hood frame doesn't
    val storeRows =
      if (graft.etl.StoreMeta.hasData(spark, indexPath))
        spark.read.parquet(indexPath).select(d.columns.map(col): _*)
      else d.limit(0)
    val right = storeRows
      .withColumn("__in_store", lit(true))
      .unionByName(d.withColumn("__in_store", lit(false)))
      .select(col("__rid").as("__rid_b") +: col("__s").as("__s_b") +:
        col("__k").as("__k_b") +: col("__in_store") +:
        blockCols.map(c => col(c).as(c + "__b")): _*)
    // delta-delta pairs once (string order, with an id-ordered branch
    // for EQUAL delta strings — editDistanceJoin's documented dist-0
    // behavior, which a bare `__s < __s_b` would silently drop);
    // delta-store pairs always (equal strings included — the adoption
    // path). The rid guard excludes the degenerate self-pair a delta
    // rep forms against its own already-indexed row (same id, dist 0).
    val cond = blockCols.map(c => col(c) === col(c + "__b"))
      .foldLeft(col("__k") === col("__k_b") &&
        col("__rid") =!= col("__rid_b") &&
        (col("__in_store") ||
          col("__s") < col("__s_b") ||
          (col("__s") === col("__s_b") && col("__rid") < col("__rid_b"))))(_ && _)
    d.join(right, cond)
      .select(col("__rid").as("id_a"), col("__rid_b").as("id_b"),
        levenshtein(col("__s"), col("__s_b"), md).as("dist"),
        col("__in_store").as("b_in_store"))
      .where(col("dist") >= 0)
      .distinct() // pairs that met on several hood keys
  }

  def editDistanceJoin(df: DataFrame, idCol: String, strCol: String,
                       maxDist: Int = 1,
                       blockCols: Seq[String] = Nil): DataFrame = {
    require(maxDist >= 1 && maxDist <= 2,
      s"maxDist must be 1 or 2, got $maxDist")
    val bc: Seq[Column] = blockCols.map(col)
    val strs = df.select(col(idCol).as("__id") +:
      col(strCol).cast("string").as("__s") +: bc: _*)
    // THE duplicated-key mitigation, applied unconditionally (it is
    // free when keys are unique): the entire fuzzy machinery —
    // neighborhood explode, candidate join, levenshtein verify — runs
    // over DISTINCT strings (distinct (string, blocks) tuples when
    // blocked), so k copies of a hot key cost 1 string, not k²
    // candidate rows (measured: 10×-replicated names drove the
    // id-level formulation to 161.6 s / 36× super-linear; this one
    // measures 5.8 s / 1.05× — linear in distinct keys + output
    // size). Id pairs are expanded from the verified STRING pairs at
    // the very end — output-sized work, the irreducible part.
    val groups = strs.groupBy(col("__s") +: bc: _*)
      .agg(count(lit(1)).as("__cnt"))
      .localCheckpoint()
    def mixBlocks(k0: org.apache.spark.sql.Column) =
      if (blockCols.isEmpty) k0 else xxhash64(k0 +: bc: _*)
    // candidate generation. maxDist == 1 runs the POSITION-REFINED
    // two-lane form (r16 — the FastSS position refinement): two
    // same-length strings share a position-TAGGED deletion key iff
    // they differ at exactly that position (a substitution), and
    // identity(a) == untagged-deletion_j(b) iff a IS b minus one code
    // point — so both lanes emit, modulo hash collisions the verify
    // removes, ONLY true lev<=1 pairs. The untagged single join's
    // cross-position meets (measured 956k candidates for 262k true
    // pairs on the sf0.1 names — DiagJ10) are structurally excluded,
    // and verification becomes output-sized. maxDist == 2 keeps the
    // generic one-join form (two-deletion residues have no such
    // per-position exactness).
    val cand =
      if (maxDist == 1) {
        val tag = groups
          .select(col("__s") +: bc :+
            explode(DeletionHoods.taggedHoods(col("__s"))).as("__k0"): _*)
          .withColumn("__k", mixBlocks(col("__k0"))).drop("__k0")
        val tagB = tag.select(col("__s").as("__s_b") +: col("__k").as("__k_b") +:
          blockCols.map(c => col(c).as(c + "__b")): _*)
        val cond1 = blockCols.map(c => col(c) === col(c + "__b"))
          .foldLeft(col("__k") === col("__k_b") && col("__s") < col("__s_b"))(_ && _)
        val subst = tag.join(tagB, cond1)
          .select(col("__s") +: col("__s_b") +: bc: _*)
        // lane 2: the hoods array carries the identity hash FIRST,
        // deletions after — one native call serves both sides
        val withHoods = groups.select(col("__s") +: bc :+
          DeletionHoods.hoods(col("__s"), 1).as("__hs"): _*)
        val ident = withHoods
          .select(col("__s") +: bc :+ element_at(col("__hs"), 1).as("__k0"): _*)
          .withColumn("__k", mixBlocks(col("__k0"))).drop("__k0")
        val dels = withHoods
          .select(col("__s").as("__s_b") +:
            blockCols.map(c => col(c).as(c + "__b")) :+
            explode(slice(col("__hs"), lit(2), size(col("__hs")))).as("__k0"): _*)
          .withColumn("__k_b",
            if (blockCols.isEmpty) col("__k0")
            else xxhash64(col("__k0") +: blockCols.map(c => col(c + "__b")): _*))
          .drop("__k0")
        val cond2 = blockCols.map(c => col(c) === col(c + "__b"))
          .foldLeft(col("__k") === col("__k_b") && col("__s") =!= col("__s_b"))(_ && _)
        val insDel = ident.join(dels, cond2)
          .select(least(col("__s"), col("__s_b")).as("__s") +:
            greatest(col("__s"), col("__s_b")).as("__s_b") +: bc: _*)
        subst.unionByName(insDel)
      } else {
        val keyed = groups
          .select(col("__s") +: bc :+
            explode(DeletionHoods.hoods(col("__s"), maxDist)).as("__k0"): _*)
          .withColumn("__k", mixBlocks(col("__k0"))).drop("__k0")
        val b = keyed.select(col("__s").as("__s_b") +: col("__k").as("__k_b") +:
          blockCols.map(c => col(c).as(c + "__b")): _*)
        // exact block equality re-verified here: a combined-hash
        // collision may let cross-block candidates meet, never pair
        val blockEq = blockCols
          .map(c => col(c) === col(c + "__b"))
          .foldLeft(col("__k") === col("__k_b") && col("__s") < col("__s_b"))(_ && _)
        keyed.join(b, blockEq)
          .select(col("__s") +: col("__s_b") +: bc: _*)
      }
    // threshold form short-circuits the DP once maxDist is exceeded
    // (returns -1), so verification cost per candidate is
    // O(maxDist · len), not O(len²)
    val verified = cand
      .select(col("__s") +: col("__s_b") +: bc :+
        levenshtein(col("__s"), col("__s_b"), maxDist).as("dist"): _*)
      .where(col("dist") >= 0)
      .distinct() // pairs that met on several deletion keys
    // expansion 1: near-dup STRING pairs → every cross-group id pair.
    // Blocks are EQUAL within a verified pair, so both expansion
    // joins simply include the block cols in their using-keys.
    val sb = strs.select(col("__s").as("__s_b") +:
      col("__id").as("__id_b") +: bc: _*)
    val inter = verified
      .join(strs, Seq("__s") ++ blockCols)
      .join(sb, Seq("__s_b") ++ blockCols)
      .select(least(col("__id"), col("__id_b")).as("id_a"),
        greatest(col("__id"), col("__id_b")).as("id_b"), col("dist"))
    // expansion 2: exact-duplicate groups → within-group dist-0 pairs
    val dupStrs = strs.join(
      groups.filter(col("__cnt") >= 2).select(col("__s") +: bc: _*),
      Seq("__s") ++ blockCols, "left_semi")
    val intra = dupStrs
      .join(dupStrs.select(col("__s") +: col("__id").as("__id_b") +: bc: _*),
        Seq("__s") ++ blockCols)
      .where(col("__id") < col("__id_b"))
      .select(col("__id").as("id_a"), col("__id_b").as("id_b"),
        lit(0).as("dist"))
    inter.unionByName(intra)
  }
}
