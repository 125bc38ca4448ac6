package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** DELETION / RETRACTION — the lifecycle verb the append-only store
  * families gained in round 16 (r15 verdict #2): given document ids, a
  * takedown removes their rows from the persisted artifacts WITHOUT a
  * full rebuild — compliance deletes, opt-outs and post-hoc
  * contamination discoveries are routine in a 100 TB training-data
  * pipeline (the reference never needed the verb only because Postgres
  * `DELETE` was free on every table it owned —
  * /root/reference/database/lambda/schema.sql's unique-keyed tables).
  *
  * Scale shape: every store this operates on is bucketed (`__kb=` by
  * key hash for the keyed logs/signature/token/hood stores; `cb=` by
  * component for the label store), so a takedown rewrites ONLY the
  * buckets holding deleted rows:
  *
  *  - [[deleteKeys]]: the bucket of a key is a pure function of the
  *    key under the pinned modulus, so both the hit scan and the
  *    rewrite read O(deleted ids' buckets) — the store is never
  *    scanned;
  *  - [[deletePairsTouching]]: a pair log is bucketed on the PAIR, so
  *    a member's pairs can live anywhere — ONE column-pruned scan
  *    finds the hit buckets, and only those rewrite;
  *  - [[deleteFromComponentStore]]: removing docs can split a
  *    component and move its min-label, so the affected components —
  *    and ONLY those — are recomputed from the surviving pair log and
  *    their buckets rewritten (the mergeComponentStoreDelta touched-
  *    bucket discipline in reverse).
  *
  * Crash safety: rewrites go through the staged-swap protocol
  * (`<dir>__compact_tmp` / `__compact_old` — the exact windows
  * [[graft.etl.BucketCompaction.heal]] already owns), and a takedown
  * is IDEMPOTENT: a replay finds no remaining hits and rewrites
  * nothing, while a crash mid-swap heals on the next call and the
  * re-run removes exactly the still-present rows.
  *
  * Exactness contract (oracle-gated in del1/del2/del3): after
  * `delete(ids)`, every artifact equals the one built from
  * corpus-minus-ids — for the component store because a near-dup pair
  * is a PAIRWISE predicate (deleting a doc never creates or destroys
  * other docs' pairs), so full-rebuild components over the survivors
  * equal CC over the surviving pair log.
  *
  * Type contract: `ids` must carry the key column's WRITE-time type
  * (xxhash64 of an int and of a long differ — a mistyped id set would
  * silently probe the wrong buckets). The registered faces derive ids
  * from the same columns the stores were keyed on.
  */
object Takedown {

  private def fsOf(spark: SparkSession, p: org.apache.hadoop.fs.Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Rewrite the named hit dirs (`partCol` values) of a partitioned
    * store, keeping only `keepOf`'s rows (the exact complement of
    * `dropOf`'s, supplied separately so no all-column join is needed).
    * Returns rows removed. ONE job writes every hit dir's kept rows to
    * the staging root and each dir swaps in its copy
    * ([[graft.etl.BucketCompaction.swapLeaves]], in the crash windows
    * [[graft.etl.BucketCompaction.heal]] owns); a dir whose rows are
    * ALL dropped is deleted outright. */
  private def rewritePartitionsWithout(spark: SparkSession, path: String,
                                       partCol: String, hitVals: Seq[Any],
                                       dropOf: DataFrame => DataFrame,
                                       keepOf: DataFrame => DataFrame): Long = {
    if (hitVals.isEmpty) return 0L
    val p = new org.apache.hadoop.fs.Path(path)
    if (!fsOf(spark, p).exists(p)) return 0L
    graft.etl.BucketCompaction.heal(spark, path)
    if (!graft.etl.StoreMeta.hasData(spark, path)) return 0L
    val bucketRows = spark.read.parquet(path)
      .filter(col(partCol).isin(hitVals: _*)) // partition-pruned
    val removed = dropOf(bucketRows).count()
    if (removed == 0) return 0L
    graft.etl.BucketCompaction.swapLeaves(spark, path, keepOf(bucketRows),
      Seq(partCol), hitVals.map(v => s"$partCol=$v"))
    removed
  }

  /** Remove the rows whose `keyCol` is in `del` from a store whose
    * partition a key alone cannot derive (BM25 term buckets, ANN
    * signatures, kNN lists, SemDeDup cluster buckets): ONE
    * column-pruned (key, partition) scan finds the hit dirs, and only
    * those rewrite. Returns rows removed. */
  private def deleteScanned(spark: SparkSession, path: String, partCol: String,
                            keyCol: String, del: DataFrame): Long = {
    graft.etl.BucketCompaction.heal(spark, path)
    if (!graft.etl.StoreMeta.hasData(spark, path)) return 0L
    val hit = spark.read.parquet(path)
      .join(del, Seq(keyCol), "left_semi")
      .select(col(partCol)).distinct()
      .collect().map(_.get(0)).toSeq // ≤ the store's partition count
    rewritePartitionsWithout(spark, path, partCol, hit,
      _.join(del, Seq(keyCol), "left_semi"),
      _.join(del, Seq(keyCol), "left_anti"))
  }

  /** The pinned `kb` of a bucketed store ([[graft.etl.Sinks.pinnedKb]]):
    * takedown probes by bucket, so a store without one fails fast. */
  private def pinnedKb(spark: SparkSession, path: String): Int =
    graft.etl.Sinks.pinnedKb(path, graft.etl.StoreMeta.readParams(spark, path))

  /** KEYED takedown: remove every row whose `keyCol` appears in `ids`
    * from a `__kb=`-bucketed keyed store (signature stores keyed
    * `__id`, token stores `__id`, hood indexes `__rid`, single-key
    * logs). End-to-end O(deleted ids' buckets): the ids hash to their
    * buckets under the PINNED kb — the same expression that bucketed
    * the writes — so the hit scan never touches any other directory.
    * Returns rows removed. */
  def deleteKeys(spark: SparkSession, path: String, keyCol: String,
                 ids: DataFrame): Long = {
    val kb = pinnedKb(spark, path)
    val keyed = ids.toDF(keyCol).localCheckpoint()
    val hit = keyed
      .select(graft.etl.Sinks.keyBucket(Seq(keyCol), kb).as("__kb"))
      .distinct().collect().map(_.get(0)).toSeq // ≤ kb, driver-bounded
    rewritePartitionsWithout(spark, path, "__kb", hit,
      rows => rows.join(keyed, Seq(keyCol), "left_semi"),
      rows => rows.join(keyed, Seq(keyCol), "left_anti"))
  }

  /** PAIR-LOG takedown: remove every pair with EITHER side in `ids`
    * from a keyed log bucketed on the pair (id_a, id_b). A member's
    * pairs are scattered across buckets (the pair hash, not the
    * member, picks the dir), so ONE column-pruned scan of the two id
    * columns finds the hit buckets; only those rewrite. Returns rows
    * removed. */
  def deletePairsTouching(spark: SparkSession, path: String,
                          ids: DataFrame, aCol: String = "id_a",
                          bCol: String = "id_b"): Long = {
    pinnedKb(spark, path): Unit // fail-fast on a pre-r16 layout
    if (!graft.etl.StoreMeta.hasData(spark, path)) return 0L
    val one = ids.toDF("__del").localCheckpoint()
    // drop = a ∈ ids OR b ∈ ids; keep = a ∉ ids AND b ∉ ids. Both as
    // composed semi/anti joins so the id set stays distributed.
    def dropOf(rows: DataFrame): DataFrame =
      rows.join(one.select(col("__del").as(aCol)), Seq(aCol), "left_semi")
        .unionByName(
          rows.join(one.select(col("__del").as(bCol)), Seq(bCol), "left_semi")
            .select(rows.columns.map(col): _*))
        .dropDuplicates(aCol, bCol)
    def keepOf(rows: DataFrame): DataFrame =
      rows.join(one.select(col("__del").as(aCol)), Seq(aCol), "left_anti")
        .join(one.select(col("__del").as(bCol)), Seq(bCol), "left_anti")
    val hit = dropOf(spark.read.parquet(path))
      .select(col("__kb")).distinct()
      .collect().map(_.get(0)).toSeq
    rewritePartitionsWithout(spark, path, "__kb", hit, dropOf, keepOf)
  }

  /** BM25-INDEX takedown: remove a set of docs from a persisted
    * [[Retrieval.appendBm25Index]] index — every posting row AND the
    * doc-length sidecar row. Postings are partitioned by TERM bucket
    * (a doc's rows scatter across its terms' dirs), so one
    * column-pruned (doc_id, tb) scan finds the hit dirs and only those
    * rewrite; the sidecar is a keyed log ([[deleteKeys]]). Corpus
    * stats (N, Σdl) DERIVE from the sidecar at query time, so scores
    * after the takedown equal an index never containing the docs —
    * including the global-statistics shift a true rebuild would see
    * (spec-asserted). Returns posting rows removed. */
  def deleteFromBm25Index(spark: SparkSession, path: String,
                          ids: DataFrame): Long = {
    val del = ids.toDF("doc_id").localCheckpoint()
    val n = deleteScanned(spark, s"$path/postings", "tb", "doc_id", del)
    if (graft.etl.StoreMeta.hasData(spark, s"$path/docs"))
      deleteKeys(spark, s"$path/docs", "doc_id", del): Unit
    n
  }

  /** ANN-INDEX takedown ([[Similarity.SignRandomProjectionLsh]]
    * `writeIndex` layout, `__sig=` partitioned): the deleted ids'
    * signatures cannot be recomputed from ids alone, so one
    * column-pruned (cand_id, __sig) scan finds the hit signature dirs;
    * only those rewrite. Probes after the takedown serve exactly the
    * surviving vectors — append ≡ rebuild extends to delete ≡ rebuild
    * because the partition scheme IS the signature. Returns rows
    * removed. */
  def deleteFromAnnIndex(spark: SparkSession, path: String,
                         ids: DataFrame): Long = {
    deleteScanned(spark, path, "__sig", "cand_id",
      ids.toDF("cand_id").localCheckpoint())
  }

  /** K-NN GRAPH STORE takedown: remove the ids' member rows (their
    * list dirs found by one column-pruned (cand_id, list_id) scan —
    * the vectors needed to re-derive assignments live IN the store),
    * drop every edge row naming a deleted id on EITHER side, and
    * re-derive fresh top-k edges for exactly the surviving anchors
    * that lost a neighbor, probing the post-delete members. The result
    * provably equals a fresh [[Similarity.writeKnnGraphStore]] over
    * the survivors: unaffected anchors' stored top-k contains no
    * deleted id, so a rebuild ranks them identically, and affected
    * anchors re-rank through the same probe machinery the build uses.
    * Deleting a QUANTIZER SEED fail-fasts — the frozen quantizer's
    * vector would survive in `seeds/`; re-seeding is a rebuild, not a
    * takedown. Returns (member rows removed, anchors re-derived). */
  def deleteFromKnnGraph(spark: SparkSession, path: String,
                         ids: DataFrame): (Long, Long) = {
    val m = graft.etl.StoreMeta.readParams(spark, path).getOrElse(
      sys.error(s"Takedown: no _graft_meta pin at knn store $path"))
    val k = m("k").toInt
    val nProbe = m("n_probe").toInt
    val del = ids.toDF("cand_id").localCheckpoint()
    require(spark.read.parquet(s"$path/seeds")
        .select(col("list_id").as("cand_id"))
        .join(del, Seq("cand_id"), "left_semi").isEmpty,
      s"Takedown: a deleted id seeds the frozen quantizer at $path — " +
        "re-seeding is a rebuild (writeKnnGraphStore), not a takedown")
    // members: hit lists from a two-column scan, then pruned rewrite
    val members = s"$path/members"
    val removed = deleteScanned(spark, members, "list_id", "cand_id", del)
    // edges: anchors that lost a neighbor re-derive; rows naming a
    // deleted id on either side drop. The edge table is (n·k)-row
    // metadata — one staged swap rewrite.
    val edges = spark.read.parquet(s"$path/edges").localCheckpoint()
    val affected = edges
      .join(del.select(col("cand_id").as("nbr_id")), Seq("nbr_id"), "left_semi")
      .select(col("vec_id")).distinct()
      .join(del.select(col("cand_id").as("vec_id")), Seq("vec_id"), "left_anti")
      .localCheckpoint()
    val nAffected = affected.count()
    val edgeHits = edges
      .join(del.select(col("cand_id").as("vec_id")), Seq("vec_id"), "left_semi")
      .count() +
      edges.join(del.select(col("cand_id").as("nbr_id")), Seq("nbr_id"), "left_semi")
        .count()
    if (edgeHits == 0 && nAffected == 0) return (removed, 0L) // replay no-op
    val kept = edges
      .join(del.select(col("cand_id").as("vec_id")), Seq("vec_id"), "left_anti")
      .join(del.select(col("cand_id").as("nbr_id")), Seq("nbr_id"), "left_anti")
      .join(affected, Seq("vec_id"), "left_anti") // re-derived below
    val anchors = spark.read.parquet(members)
      .join(affected.select(col("vec_id").as("cand_id")), Seq("cand_id"), "left_semi")
      .select(col("cand_id").as("vec_id"), col("__cv"))
    val fresh =
      if (nAffected > 0)
        Similarity.deltaKnnEdges(anchors, path, k, nProbe, "vec_id", "__cv")
      else edges.limit(0)
    val out = kept.select(edges.columns.map(col): _*)
      .unionByName(fresh.select(edges.columns.map(col): _*))
      .localCheckpoint() // materialize BEFORE the swap touches edges
    graft.etl.BucketCompaction.heal(spark, path)
    graft.etl.BucketCompaction.swap(spark,
      new org.apache.hadoop.fs.Path(s"$path/edges")) { tmp =>
      out.write.mode("overwrite").parquet(tmp.toString)
    }
    (removed, nAffected)
  }

  /** SEMANTIC-DEDUP STORE takedown: remove the ids' assignment rows
    * (an id alone cannot recompute its cluster — that needs the
    * vector — so one column-pruned (__vid, __cb) scan finds the hit
    * cluster-bucket dirs; only those rewrite) and, when given, their
    * survivor-log rows (a keyed log — the key column resolves from the
    * log's own pin). NON-RETROACTIVE by contract: vectors that were
    * dropped earlier because a now-deleted survivor dominated them
    * stay dropped — the store's semantics are arrival-order prior art,
    * so "rebuild without the doc" is not even well-defined for them.
    * What the takedown guarantees (spec-asserted) is the forward
    * direction a compliance delete needs: the deleted ids stop being
    * prior art — an identical future delta SURVIVES. Returns
    * assignment rows removed. */
  def deleteFromSemanticStore(spark: SparkSession, storePath: String,
                              ids: DataFrame,
                              survivorsPath: Option[String] = None): Long = {
    val asg = s"$storePath/assignments"
    val del = ids.toDF("__vid").localCheckpoint()
    val removed = deleteScanned(spark, asg, "__cb", "__vid", del)
    survivorsPath.filter(p => graft.etl.StoreMeta.hasData(spark, p))
      .foreach { p =>
        val key = graft.etl.StoreMeta.readParams(spark, p)
          .flatMap(_.get("keys")).getOrElse(sys.error(
            s"Takedown: survivor log at $p pins no key tuple"))
        require(!key.contains(","),
          s"Takedown: survivor log at $p is multi-keyed ($key) — " +
            "deleteKeys handles single-key logs")
        deleteKeys(spark, p, key, del): Unit
      }
    removed
  }

  /** COMPONENT-STORE takedown: remove the deleted nodes and recompute
    * the labels of exactly the components they belonged to, from the
    * surviving pair log. Unaffected components are provably untouched
    * (their pairs name no deleted node), and no surviving pair can
    * cross an affected/unaffected boundary (two paired docs are BY
    * DEFINITION in the same component), so recomputing CC over the
    * affected members' surviving pairs — then rewriting only the old
    * and new label buckets (dynamic partition overwrite over rows read
    * from BOTH, the mergeComponentStoreDelta closure; emptied dirs
    * deleted) — equals the full rebuild on corpus-minus-deleted
    * bit-for-bit (del3 gates on d6's oracle with the deleted docs
    * filtered out). A member whose pairs ALL died leaves the store:
    * the rebuild's CC would never see it. Returns the touched bucket
    * ids (empty = no deleted node was stored). */
  def deleteFromComponentStore(spark: SparkSession, path: String,
                               pairs: DataFrame, aCol: String, bCol: String,
                               ids: DataFrame): Seq[Long] = {
    val store = Dedup.readComponentStore(spark, path)
    val n = Dedup.readComponentStoreMeta(spark, path).getOrElse(
      sys.error(s"Takedown: no component store meta at $path"))
    val del = ids.toDF("node").localCheckpoint()
    // the deleted nodes' components: one two-column columnar scan (the
    // store is bucketed by COMPONENT, so a node lookup cannot prune —
    // the read side is the layout's documented full-scan face)
    val affected = store.join(del, Seq("node"), "left_semi")
      .select(col("component")).distinct().localCheckpoint()
    if (affected.isEmpty) return Seq.empty
    val affectedCb = affected
      .select(pmod(col("component"), lit(n.toLong)).as("cb"))
      .distinct().collect().map(_.getLong(0)).toSeq
    // members of affected components, from the pruned buckets only
    val members = store.filter(col("cb").isin(affectedCb: _*))
      .join(affected, Seq("component"), "left_semi")
      .select(col("node")).localCheckpoint()
    // surviving internal pairs: both sides members, neither deleted
    val p0 = pairs.select(col(aCol).as("__a"), col(bCol).as("__b"))
    val surviving = p0
      .join(members.select(col("node").as("__a")), Seq("__a"), "left_semi")
      .join(members.select(col("node").as("__b")), Seq("__b"), "left_semi")
      .join(del.select(col("node").as("__a")), Seq("__a"), "left_anti")
      .join(del.select(col("node").as("__b")), Seq("__b"), "left_anti")
      .localCheckpoint()
    // exact CC over the affected subgraph alone (near-dup components
    // are small; this is affected-sized, never corpus-sized)
    val relabeled = Dedup.connectedComponents(surviving, "__a", "__b")
      .localCheckpoint()
    // fragments' new min-labels can land in buckets the delete never
    // touched — those strangers must ride through the rewrite or the
    // dynamic overwrite would wipe them (the mergeComponentStoreDelta
    // touched = old ∪ new closure)
    val newCb = relabeled.select(pmod(col("component"), lit(n.toLong)).as("cb"))
      .distinct().collect().map(_.getLong(0)).toSeq
    val touched = (affectedCb ++ newCb).distinct.sorted
    val out = store.filter(col("cb").isin(touched: _*))
      .join(affected, Seq("component"), "left_anti") // strangers stay
      .select(col("node"), col("component"))
      .unionByName(relabeled)
      .withColumn("cb", pmod(col("component"), lit(n.toLong)))
      .localCheckpoint() // materialize BEFORE overwriting what it read
    val present = out.select(col("cb")).distinct()
      .collect().map(_.getLong(0)).toSet
    if (present.nonEmpty)
      graft.etl.Sinks.overwritePartitions(out, path, Seq("cb"))
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = fsOf(spark, p)
    touched.filterNot(present).foreach { b =>
      fs.delete(new org.apache.hadoop.fs.Path(s"$path/cb=$b"), true): Unit
    }
    touched
  }
}
