package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed triangle counting via degree orientation — the graph
  * third leg next to PageRank (pr1) and label propagation (lp1):
  * clustering-structure measurement over a similarity/co-occurrence
  * graph (triangle-dense neighborhoods = tight near-dup or community
  * cores; triangle-free hubs = spam-like link patterns).
  *
  * The naive wedge join explodes on hubs: a degree-d node contributes
  * d² wedges. Degree orientation (Suri & Vassilvitskii WWW'11 shape)
  * fixes the bound structurally: orient every undirected edge from the
  * endpoint with the smaller (degree, id) to the larger, making the
  * graph a DAG where every node's OUT-degree is O(√m) — a node of
  * out-degree k must have k neighbors of degree ≥ its own. Each
  * triangle {a ≺ b ≺ c} then exists exactly once as wedges a→b, a→c
  * closed by b→c, so:
  *  - wedges = oriented ⋈ oriented on the source (out-degree-bounded
  *    fan-out, Σ out² = O(m^1.5) worst case instead of Σ deg²);
  *  - closure = one equi-join of the wedge list against the oriented
  *    edge list on (b, c) — no membership broadcast, no driver state;
  *  - per-node counts = explode the 3 corners + one aggregate.
  *
  * Every exchange carries (long, long) node pairs — 16 bytes/row.
  * Input edges may be directed/duplicated/self-looped; normalization
  * (id-ordering + distinct) happens here unless `assumeDistinct`
  * promises id-ordered distinct loop-free edges.
  *
  * Returns (node, n_tri) for every node in at least one triangle.
  */
object Triangles {

  def perNode(edges: DataFrame, srcCol: String, dstCol: String,
              assumeDistinct: Boolean = false): DataFrame = {
    val e0 = edges.select(col(srcCol).cast("long").as("u"),
      col(dstCol).cast("long").as("v"))
    val und = if (assumeDistinct) e0 else normalize(e0)
    // Undirected degree per node (each edge touches both endpoints).
    val deg = und.select(explode(array(col("u"), col("v"))).as("n"))
      .groupBy(col("n")).agg(count(lit(1)).as("d"))
    // Orient by the (degree, id) total order; keep the head's order key
    // so the wedge join can order its two endpoints the same way.
    val oriented = und
      .join(deg.withColumnRenamed("n", "u").withColumnRenamed("d", "du"), "u")
      .join(deg.withColumnRenamed("n", "v").withColumnRenamed("d", "dv"), "v")
      .select(
        when(col("du") < col("dv") ||
             (col("du") === col("dv") && col("u") < col("v")),
          struct(col("u").as("s"), col("v").as("t"), col("dv").as("dt")))
          .otherwise(
            struct(col("v").as("s"), col("u").as("t"), col("du").as("dt")))
          .as("e"))
      .select(col("e.s").as("s"), col("e.t").as("t"), col("e.dt").as("dt"))
    // Wedges from each source, endpoints ordered by the SAME
    // (degree, id) order the orientation used — the closure edge
    // between them, if present, is then oriented b -> c exactly.
    val w1 = oriented.select(col("s"), col("t").as("b"), col("dt").as("db"))
    val w2 = oriented.select(col("s"), col("t").as("c"), col("dt").as("dc"))
    val wedges = w1.join(w2, "s")
      .filter(col("db") < col("dc") ||
        (col("db") === col("dc") && col("b") < col("c")))
      .select(col("s").as("a"), col("b"), col("c"))
    val closure = oriented.select(col("s").as("b"), col("t").as("c"))
    val tris = wedges.join(closure, Seq("b", "c"))
    tris.select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("n_tri"))
  }

  /** id-ordered distinct loop-free (u, v) — every store path's edge
    * normal form. */
  def normalize(edges: DataFrame): DataFrame =
    edges.filter(col("u") =!= col("v"))
      .select(least(col("u"), col("v")).as("u"),
        greatest(col("u"), col("v")).as("v"))
      .distinct()

  // ===== bucket-partitioned adjacency edge store =====
  //
  // The layout that makes the incremental faces' per-batch READS
  // delta-sized (the d6c discipline applied to adjacency — the r12
  // verdict's top ask): edges persist as BOTH orientations (a, b),
  // parquet-partitioned by (eb = xxhash64(a) mod N, o) where o tags
  // the orientation (0 = the normalized a < b row, 1 = its mirror).
  // Every per-batch probe the merge needs keys on a node the DELTA
  // names —
  //  - novelty: is (u, v) stored?  -> row (a=u, b=v) in bucket(u);
  //  - degree:  deg(n), n a delta endpoint -> count of a=n rows, all
  //    in bucket(n) (both orientations stored, so one dir holds a
  //    node's complete adjacency);
  //  - wedges:  neighbors of the oriented delta source s -> a=s rows;
  //  - closure: does edge (t, w) exist? t is a delta endpoint -> row
  //    (a=t, b=w) in bucket(t)
  // — so ONE pruned read of the delta endpoints' bucket dirs serves
  // the whole merge, and the per-batch read cost is O(adjacency of
  // touched buckets) instead of the full accumulated edge set.
  // Buckets hash the node id (components bucket the component VALUE
  // because min-id labels cluster; node ids are arbitrary, so the
  // hash spreads hubs' neighbors evenly). The bucket count freezes
  // into the layout at write time and is pinned by the same
  // `_graft_meta` sidecar the component store uses; appends land new
  // files inside existing bucket dirs and never rewrite stored rows.
  //
  // The o sub-partition exists for the DENSE regime (r14): when a
  // batch touches ≥ DenseBucketFraction of the buckets, pruning
  // skips little and the both-orientations layout would read 2E rows
  // where r12's flat store read E. `o` makes "the normalized half"
  // a DIRECTORY-level prune — `filter(o = 0)` is a partition-column
  // literal predicate, so the dense read opens half the files and
  // decodes exactly E rows (an in-row `a < b` filter could not prune:
  // parquet pushdown takes column-vs-literal only, and the two
  // orientations interleave inside every file). Same write volume,
  // 2N leaf dirs instead of N.

  /** Data-sized bucket count: one bucket ≈ 6M (long, long) adjacency
    * rows ≈ 100 MB per read task, floor 8 (fixture-scale pruning stays
    * meaningful), cap 2¹⁴ (the 10¹¹-edge sizing). */
  def dataSizedEdgeBuckets(adjRows: Long): Int =
    math.min(1L << 14, math.max(8L, adjRows / 6000000L)).toInt

  private def edgeBucket(c: Column, nBuckets: Int): Column =
    pmod(xxhash64(c), lit(nBuckets.toLong))

  private def mirror(und: DataFrame): DataFrame =
    und.select(col("u").as("a"), col("v").as("b"))
      .unionByName(und.select(col("v").as("a"), col("u").as("b")))

  /** [[mirror]] with the orientation tag the store partitions on:
    * o = 0 carries the normalized a < b rows, o = 1 their mirrors. */
  private def mirrorTagged(und: DataFrame): DataFrame =
    und.select(col("u").as("a"), col("v").as("b"), lit(0).as("o"))
      .unionByName(
        und.select(col("v").as("a"), col("u").as("b"), lit(1).as("o")))

  /** Seed the store from a batch edge set (normalized here). */
  def writeEdgeStore(edges: DataFrame, srcCol: String, dstCol: String,
                     path: String, nBuckets: Int = 0): Unit = {
    val spark = edges.sparkSession
    val und = normalize(edges.select(col(srcCol).cast("long").as("u"),
      col(dstCol).cast("long").as("v")))
    val adj = mirrorTagged(und).localCheckpoint() // counted, then written
    val n = if (nBuckets > 0) nBuckets else dataSizedEdgeBuckets(adj.count())
    // data first: the overwrite DELETES the target dir, so a meta
    // written before it would be wiped. The crash window (data, no
    // meta) fail-fasts on every merge/read path and heals by
    // re-running this seed — which overwrites unconditionally
    adj.withColumn("eb", edgeBucket(col("a"), n))
      .repartition(col("eb"))
      .write.mode("overwrite").partitionBy("eb", "o").parquet(path)
    pinEdgeStore(spark, path, n)
  }

  /** The sidecar family + layout tag of the (eb, o) edge store. The
    * layout tag exists because the LAYOUT is a frozen parameter too:
    * r14 deepened the leaves from `eb=` to `(eb=, o=)`, and appending
    * the deeper shape into a pre-r14 store — or pruning `o === 0` over
    * one — produces mixed-depth partition dirs / missing-column reads,
    * exactly the silent-merge class the bucket-count pin closed. A
    * bare-int pre-r14 sidecar parses family-less and fail-fasts below
    * before any mutation. */
  private val EdgeFamily = "triangle_edges"
  private val EdgeLayout = "o1"

  private def pinEdgeStore(spark: org.apache.spark.sql.SparkSession,
                           path: String, n: Int): Unit =
    graft.etl.StoreMeta.pinFamily(spark, path, EdgeFamily,
      Map("n" -> n.toString, "layout" -> EdgeLayout))

  /** The store's bucket count — fail-fast if the store has data but no
    * meta (a foreign layout: pruning with a guessed N reads the wrong
    * dirs), or a sidecar without this build's family + layout tag (a
    * pre-(eb,o) store: appending or half-pruning it would corrupt the
    * layout — rebuild through [[writeEdgeStore]]). */
  private def storeBuckets(spark: org.apache.spark.sql.SparkSession,
                           path: String): Option[Int] =
    graft.etl.StoreMeta.readParams(spark, path) match {
      case Some(m) =>
        require(m.get("family").contains(EdgeFamily) &&
            m.get("layout").contains(EdgeLayout),
          s"edge store at $path is pinned to " +
            s"family=${m.getOrElse("family", "<none>")} " +
            s"layout=${m.getOrElse("layout", "<none>")} but this build " +
            s"reads/writes the ($EdgeFamily, layout=$EdgeLayout) shape — " +
            "appending across layouts mixes partition depths; rebuild " +
            "through writeEdgeStore")
        require(m.contains("n"),
          s"edge store sidecar at $path pins no bucket count — sidecar: $m")
        Some(m("n").toInt)
      case None =>
        val p = new org.apache.hadoop.fs.Path(path)
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        require(!fs.exists(p) ||
            !fs.listStatus(p).exists(_.getPath.getName.startsWith("eb=")),
          s"edge store at $path has data but no _graft_meta sidecar — " +
            "seed through writeEdgeStore/appendEdgeStore")
        None
    }

  /** The pruned adjacency read: all (a, b) rows in the bucket dirs of
    * the delta's endpoints — the ONE store read a merge needs. The
    * bucket list derives from the (already |delta|-bounded) endpoint
    * set, collected (≤ min(2|delta|, nBuckets) values); `.isin` on the
    * partition column prunes at planning time, so untouched bucket
    * dirs are never opened (inputFiles-asserted in
    * TriangleEdgeStoreSpec). An absent store reads as empty. */
  def readAdjForDelta(spark: org.apache.spark.sql.SparkSession, path: String,
                      deltaUnd: DataFrame): DataFrame =
    storeBuckets(spark, path) match {
      case None => spark.range(0).selectExpr("id AS a", "id AS b")
      case Some(n) =>
        val buckets = deltaUnd
          .select(explode(array(col("u"), col("v"))).as("__n"))
          .select(edgeBucket(col("__n"), n).as("eb"))
          .distinct().collect().map(_.getLong(0)).sorted
        spark.read.parquet(path)
          .filter(col("eb").isin(buckets: _*))
          .select(col("a"), col("b"))
    }

  /** Touched-bucket fraction at which the merge's adjacency read
    * switches from the pruned both-orientations scan to the
    * normalized-half scan. Cost model per unit of store volume E:
    * pruned scans and materializes 2·f·E rows (f = touched fraction,
    * both o dirs of the touched buckets); the half path prunes to the
    * o=0 dirs — a directory-level prune, so it scans AND materializes
    * exactly E rows, deriving the mirror in-plan. Per-row costs
    * cancel, so the analytic crossover is f* = 0.5 — confirmed by the
    * measured sweep (PERFORMANCE.md round-14 crossover table).
    * Correctness is regime-invariant — both sources yield the
    * identical adjacency relation for every bucket the delta
    * touches. */
  val DenseBucketFraction: Double = 0.5

  private[graft] def isDenseDelta(touched: Int, nBuckets: Int): Boolean =
    touched >= DenseBucketFraction * nBuckets

  /** REGIME-ADAPTIVE adjacency read for the incremental merges — the
    * r13 dense-batch fix. The both-orientations layout exists so a
    * SPARSE delta's probes prune to its endpoints' bucket dirs; but
    * when a dense batch (a backfill, a first seed, a fixture that
    * touches every bucket) names ≥ [[DenseBucketFraction]] of the
    * dirs, pruning skips little and the scan pays the full 2E
    * both-orientations volume where the pre-bucketed flat store read
    * E. This picks per delta: sparse → the pruned read; dense → the
    * store's normalized a<b half (E rows — exactly one row per edge,
    * whatever buckets hold it) with the mirror derived in-plan, the
    * same derivation [[mergeTriangleCounts]] uses for flat frames.
    * The returned frame is already MATERIALIZED (the batch's one
    * store-sized-at-most localCheckpoint) — callers must not
    * checkpoint it again; the in-plan mirror union on the dense path
    * replays block-manager reads, not the parquet scan. Exactness is
    * unchanged: both sources contain the complete adjacency of every
    * delta endpoint (the dense path carries ALL nodes' adjacency — a
    * superset — and [[triangleIncrement]] only ever joins on delta
    * endpoints), so tc2/st21 gate on tc1's oracle verbatim at every
    * delta density (TriangleEdgeStoreSpec sweeps both regimes). */
  def readAdjForDeltaAdaptive(spark: org.apache.spark.sql.SparkSession,
                              path: String, deltaUnd: DataFrame,
                              bucketsPre: Option[Array[Long]] = None): DataFrame =
    readAdjPlanForDelta(spark, path, deltaUnd, bucketsPre)._1

  /** [[readAdjForDeltaAdaptive]] plus its regime evidence: the second
    * element is Some(normalized-half frame, materialized) exactly when
    * the read was served COMPLETE — the dense path, or an absent store
    * (trivially complete and empty) — which is the ingredient the
    * stream's work-regime fallback needs (a recount requires the
    * whole edge set; a sparse pruned read cannot provide it, and a
    * sparse delta never wants the fallback anyway). */
  private[graft] def readAdjPlanForDelta(
      spark: org.apache.spark.sql.SparkSession, path: String,
      deltaUnd: DataFrame,
      bucketsPre: Option[Array[Long]] = None): (DataFrame, Option[DataFrame]) =
    storeBuckets(spark, path) match {
      case None =>
        val empty = spark.range(0).selectExpr("id AS a", "id AS b")
        (empty, Some(empty))
      case Some(n) =>
        // bucketsPre: the caller already knows the delta's touched
        // buckets (r17 — [[mergeTriangleCountsBucketed]] folds the
        // bucket collect into the delta pin as an observed metric, so
        // the delta is scanned once, not twice). Must have been
        // computed with THIS store's modulus.
        val buckets = bucketsPre.map(_.sorted).getOrElse(deltaUnd
          .select(explode(array(col("u"), col("v"))).as("__n"))
          .select(edgeBucket(col("__n"), n).as("eb"))
          .distinct().collect().map(_.getLong(0)).sorted)
        if (!isDenseDelta(buckets.length, n))
          (spark.read.parquet(path)
            .filter(col("eb").isin(buckets: _*))
            .select(col("a"), col("b"))
            .localCheckpoint(), None)
        else {
          // o = 0 is a partition-column literal predicate: the scan
          // opens only the normalized-half dirs and decodes E rows,
          // not 2E — the dense-regime win, at r12-flat-store cost
          val half = spark.read.parquet(path)
            .filter(col("o") === 0)
            .select(col("a"), col("b"))
            .localCheckpoint()
          (half.unionByName(
            half.select(col("b").as("a"), col("a").as("b"))), Some(half))
        }
    }

  /** Append novel normalized edges (both orientations) into their
    * bucket dirs — new files only, stored rows never rewritten. Day
    * zero (no store yet) seeds meta with a data-sized N. The caller
    * owns novelty (anti-join against [[readAdjForDelta]]); appending a
    * non-novel edge would double its adjacency rows. */
  def appendEdgeStore(novelUnd: DataFrame, path: String): Unit = {
    val spark = novelUnd.sparkSession
    // row count rides the pin's own job (r17, ObservedPin): it serves
    // both the day-zero bucket sizing and the emptiness gate — was a
    // count and/or isEmpty action per append
    val (adj, m) = graft.etl.ObservedPin(mirrorTagged(novelUnd),
      Seq(count(lit(1)).as("__n")))
    val nAdj = m.map(graft.etl.ObservedPin.long(_, "__n"))
      .getOrElse(adj.count())
    val n = storeBuckets(spark, path).getOrElse {
      val sized = dataSizedEdgeBuckets(nAdj)
      pinEdgeStore(spark, path, sized)
      sized
    }
    if (nAdj > 0)
      adj.withColumn("eb", edgeBucket(col("a"), n))
        .repartition(col("eb"))
        .write.mode("append").partitionBy("eb", "o").parquet(path)
  }

  /** Fold the edge store's append-accumulated small files
    * (etl.BucketCompaction): each (eb, o) leaf dir rewrites to ONE
    * file, bounding a delta probe's footer reads at O(touched
    * buckets) however many batches appended. Row-preserving —
    * [[readAdjForDelta]] and every merge over the compacted store are
    * unchanged (CompactionSpec) — and the `_graft_meta` sidecar (a
    * root file) is never touched, so the bucket modulus survives.
    * Run between batches, never racing a streaming merge. */
  /** Heal every crash window a [[compactEdgeStore]] swap can leave —
    * root-level (pre-(eb,o) `eb=X__compact_*`) AND the per-eb `o=Y`
    * leaf swaps. Call at the TOP of a maintained stream's foreachBatch
    * body, BEFORE any store read: a crash between a leaf's park and
    * publish leaves that `o=` dir absent, the pruned adjacency read
    * then misses its rows, the batch re-appends them as "novel", and
    * the next compaction's heal — seeing a live dir again — sweeps
    * the parked full bucket: silently lost adjacency plus
    * double-counted increments. Healing first republishes the parked
    * leaf so the read sees the complete store. Driver-side listing,
    * bounded by the bucket count. */
  def healEdgeStore(spark: org.apache.spark.sql.SparkSession,
                    path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return
    graft.etl.BucketCompaction.heal(spark, path)
    fs.listStatus(p).map(_.getPath)
      .filter(q => q.getName.startsWith("eb=") &&
        !q.getName.contains("__compact_"))
      .foreach(q => graft.etl.BucketCompaction.heal(spark, q.toString))
  }

  def compactEdgeStore(spark: org.apache.spark.sql.SparkSession,
                       path: String): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return Seq.empty
    // heal EVERY crash window first: root-level (pre-(eb,o) layouts
    // staged swaps at root) and the per-eb leaf swaps — a leftover
    // parked dir with no live sibling would otherwise never republish
    // and its bucket's adjacency would silently vanish from pruned
    // reads
    healEdgeStore(spark, path)
    val ebs = fs.listStatus(p).map(_.getPath.getName)
      .filter(n => n.startsWith("eb=") && !n.contains("__compact_"))
      .sorted.toSeq
    // leaves needing a fold, as (eb dir, o dir) names
    val need = ebs.flatMap { eb =>
      val ep = new org.apache.hadoop.fs.Path(p, eb)
      fs.listStatus(ep).map(_.getPath.getName)
        .filter(n => n.startsWith("o=") && !n.contains("__compact_"))
        .filter(o => graft.etl.BucketCompaction
          .dataFileCount(spark, s"$path/$eb/$o") > 1)
        .sorted.map(o => (eb, o))
    }
    if (need.isEmpty) return Seq.empty
    // BATCHED (r16, the compactStore discipline at two levels): ONE
    // job folds every needing leaf — o is 0/1, so `eb*2 + o` encodes
    // the (eb, o) pair for an exact partition-pruned filter; the
    // staged store lands 1 file per leaf, and the per-leaf swaps are
    // driver-side renames in the exact crash windows [[healEdgeStore]]
    // already owns.
    import org.apache.spark.sql.functions.{col, lit}
    val enc = need.map { case (eb, o) =>
      eb.stripPrefix("eb=").toLong * 2 + o.stripPrefix("o=").toLong }
    graft.etl.BucketCompaction.swapLeaves(spark, path,
      spark.read.parquet(path).filter((col("eb") * lit(2L) + col("o")).isin(enc: _*)),
      Seq("eb", "o"), need.map { case (eb, o) => s"$eb/$o" })
    need.map { case (eb, o) => s"$eb/$o" }
  }

  /** The ≥1-novel-edge triangle increment from PRUNED adjacency — the
    * shared core of the incremental faces. `prunedAdj` must contain
    * the complete adjacency of every bucket holding a delta endpoint
    * (the [[readAdjForDelta]] contract) and exclude the novel edges;
    * `novelUnd` must be normalized and novel.
    *
    * Exactness: triangles(E ∪ D) = triangles(E) ⊎ {triangles with ≥ 1
    * D edge} — this enumerates exactly the second set, so stored
    * counts plus increments equal a full recount bit-for-bit (tc2 and
    * st21 gate on tc1's oracle VERBATIM on this identity).
    * Enumeration probes from each novel edge's LOWER-degree endpoint
    * (the Suri-Vassilvitskii orientation applied to the delta alone),
    * so candidate wedges are Σ_{(u,v)∈D} min(deg u, deg v) — never a
    * hub's full d² fan-out — closed by an adjacency-existence
    * semi-join keyed on delta endpoints and DEDUPED by sorted triple
    * (a triangle with 2 or 3 novel edges is found once per novel edge
    * and must count once). Degree completeness: deg(n) is only ever
    * joined for delta endpoints, whose buckets are pruned IN, so the
    * a=n row count is the node's full degree in E ∪ D. */
  def triangleIncrement(prunedAdj: DataFrame, novelUnd: DataFrame): DataFrame = {
    // NO checkpoint here: callers pass a MATERIALIZED prunedAdj and a
    // materialized novel set (the contract below), so this union is a
    // cheap block-manager read + an in-plan mirror of the (small)
    // novel frame per consumer — one full materialization per batch,
    // not two (the r13 sf1 measurement: a second checkpoint of the
    // union costs a store-sized write+read per batch and dominated
    // dense batches)
    val fullAdj = prunedAdj.select(col("a"), col("b"))
      .unionByName(mirror(novelUnd))
    val deg = fullAdj.groupBy(col("a").as("n")).agg(count(lit(1)).as("d"))
    // orient each novel edge: probe from the lower-(degree, id) side
    val orientedD = novelUnd
      .join(deg.select(col("n").as("u"), col("d").as("du")), Seq("u"))
      .join(deg.select(col("n").as("v"), col("d").as("dv")), Seq("v"))
      .select(when(col("du") < col("dv") ||
          (col("du") === col("dv") && col("u") < col("v")),
        struct(col("u").as("s"), col("v").as("t")))
        .otherwise(struct(col("v").as("s"), col("u").as("t"))).as("e"))
      .select(col("e.s").as("s"), col("e.t").as("t"))
    val cand = orientedD
      .join(fullAdj.select(col("a").as("s"), col("b").as("w")), Seq("s"))
      .filter(col("w") =!= col("t"))
    // closure keyed (t, w): t is a delta endpoint, so its bucket — and
    // with it the (a=t, b=w) existence row — is pruned in
    val closed = cand.join(
      fullAdj.select(col("a").as("t"), col("b").as("w")),
      Seq("t", "w"), "left_semi")
    closed
      // sort_array, not array_sort: the latter plans a comparator lambda
      .select(sort_array(array(col("s"), col("t"), col("w"))).as("__tri"))
      .distinct()
      .select(explode(col("__tri")).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("n_tri"))
  }

  /** Merged counts = stored + increment (full outer, absent = 0). */
  def addCounts(storedCounts: DataFrame, inc: DataFrame): DataFrame =
    storedCounts.select(col("node"), col("n_tri"))
      .join(inc.select(col("node"), col("n_tri").as("__inc")),
        Seq("node"), "full_outer")
      .select(col("node"),
        (coalesce(col("n_tri"), lit(0L)) + coalesce(col("__inc"), lit(0L)))
          .as("n_tri"))

  /** INCREMENTAL per-node triangle counts against the BUCKETED edge
    * store — the graph family's store face: absorb a batch of new
    * edges into stored (node, n_tri) counts WITHOUT re-running the
    * O(m^1.5) orientation pass, reading only the delta endpoints'
    * bucket dirs. Replay-idempotent (already-stored delta edges
    * anti-join away; an empty novel set adds nothing) and read-only —
    * the caller decides if/when the delta lands in the store
    * ([[appendEdgeStore]]). */
  def mergeTriangleCountsBucketed(storedCounts: DataFrame,
                                  edgeStorePath: String, deltaEdges: DataFrame,
                                  srcCol: String, dstCol: String,
                                  assumeNormalized: Boolean = false): DataFrame = {
    val spark = deltaEdges.sparkSession
    // assumeNormalized: callers whose delta is ALREADY loop-free,
    // id-ordered and distinct (e.g. a slice of a normalized edge set)
    // skip the defensive normalize — one delta-sized distinct exchange
    // saved per merge (r16; the PageRank assumeDistinct discipline).
    val dRaw = deltaEdges.select(col(srcCol).cast("long").as("u"),
      col(dstCol).cast("long").as("v"))
    val dNorm = if (assumeNormalized) dRaw else normalize(dRaw)
    // The delta pin feeds the bucket list AND the probes. The bucket
    // list rides the pin's OWN job as two observed collect_set metrics
    // (r17 — the CC convergence-metric fusion applied here): the delta
    // is scanned once, not pinned and then re-scanned by a separate
    // bucket-collect job. Touched buckets ≤ nBuckets, so the metric is
    // bounded. Fallbacks keep every window closed: a metric timeout —
    // or an analysis-time rejection of the metric expressions — drops
    // to the explicit bucket-collect job over the pinned delta, the
    // pre-r17 shape.
    val (d0, bucketsPre) = storeBuckets(spark, edgeStorePath) match {
      case Some(n) =>
        try {
          val obs = org.apache.spark.sql.Observation()
          val pinned = dNorm.observe(obs,
            collect_set(edgeBucket(col("u"), n)).as("__bu"),
            collect_set(edgeBucket(col("v"), n)).as("__bv"))
            .localCheckpoint()
          val pre = try {
            import scala.concurrent.{Await, Future, blocking}
            import scala.concurrent.duration._
            import scala.concurrent.ExecutionContext.Implicits.global
            val m = Await.result(Future(blocking(obs.get)), 60.seconds)
            def longs(a: Any): Seq[Long] = a match {
              case s: scala.collection.Seq[_] => s.toSeq.map {
                case l: java.lang.Long => l.longValue
                case l: Long => l
              }
              case other => sys.error(s"unexpected metric shape: $other")
            }
            Some((longs(m("__bu")) ++ longs(m("__bv"))).distinct.toArray)
          } catch { case _: java.util.concurrent.TimeoutException => None }
          if (sys.env.contains("GRAFT_DIAG_TRI"))
            System.err.println(s"[tri-merge] bucketsPre=${pre.map(_.length)}")
          (pinned, pre)
        } catch { case _: org.apache.spark.sql.AnalysisException =>
          (dNorm.localCheckpoint(), None)
        }
      case None => (dNorm.localCheckpoint(), None)
    }
    // already materialized inside (regime-adaptive: pruned 2fE rows
    // sparse, a<b half = E rows dense) — no second checkpoint
    val prunedAdj = readAdjForDeltaAdaptive(spark, edgeStorePath, d0, bucketsPre)
    addCounts(storedCounts,
      triangleIncrement(prunedAdj, novelAgainst(prunedAdj, d0)))
  }

  /** The delta's NOVEL edges against a pruned adjacency read: the
    * normalized (a < b) orientation alone carries every stored edge
    * — and for a delta edge (u, v) that row sits in bucket(u), which
    * the delta prunes IN — so the anti-join's build side is half the
    * adjacency frame. Checkpointed: novelty must be pinned BEFORE
    * any caller mutates the store it was derived from. */
  def novelAgainst(prunedAdj: DataFrame, d0: DataFrame): DataFrame =
    d0.join(prunedAdj.filter(col("a") < col("b"))
        .select(col("a").as("u"), col("b").as("v")),
      Seq("u", "v"), "left_anti")
      .localCheckpoint()

  /** The flat-frame face (spec fixtures, in-memory merges): stored
    * edges arrive as a normalized (u, v) frame; adjacency derives
    * in-plan. Same core, same exactness argument. */
  def mergeTriangleCounts(storedCounts: DataFrame, storedEdges: DataFrame,
                          deltaEdges: DataFrame, srcCol: String,
                          dstCol: String): DataFrame = {
    val d0 = normalize(deltaEdges.select(col(srcCol).cast("long").as("u"),
      col(dstCol).cast("long").as("v")))
    val stored = storedEdges.select(col("u"), col("v"))
    val novel = d0.join(stored, Seq("u", "v"), "left_anti")
      .localCheckpoint()
    addCounts(storedCounts,
      triangleIncrement(mirror(stored).localCheckpoint(), novel))
  }
}
