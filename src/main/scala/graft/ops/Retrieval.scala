package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Keyword ranked retrieval (TF-IDF / BM25) over a document corpus —
  * the inverted-index workload of a training-data pipeline (e.g.
  * targeted corpus slicing: "pull the top-k docs per seed query").
  *
  * Scale shape: the token explode is filtered to the query terms
  * BEFORE the aggregation, so the big shuffle carries only query-term
  * hits (a tiny fraction of token volume); document frequencies are a
  * |terms|-row aggregate joined back by broadcast; corpus stats (N,
  * total length) are one scalar row cross-joined by broadcast; the
  * final top-k is orderBy+limit = TakeOrderedAndProject (per-partition
  * partial top-k, NO single-partition window). Everything is codegen'd
  * column arithmetic — no UDFs.
  */
object Retrieval {

  val K1: Double = 1.2
  val B: Double  = 0.75

  /** BM25 scores for a fixed query-term set; returns one row per doc
    * matching ≥1 term: (doc_id, dl, score), score summed over terms in
    * the FIXED order of `terms` (float addition is not associative;
    * the pivot-then-fixed-sum keeps the result engine-portable). */
  def bm25(docs: DataFrame, idCol: String, textCol: String,
           terms: Seq[String], k1: Double = K1, b: Double = B): DataFrame = {
    val base = docs.select(
      col(idCol).as("doc_id"),
      split(col(textCol), " ").as("ws"))
      .withColumn("dl", size(col("ws")))
    val stats = base.agg(
      count(lit(1)).as("n"),
      sum(col("dl")).as("sumdl"))
    val tf = base
      .select(col("doc_id"), col("dl"), explode(col("ws")).as("w"))
      .filter(col("w").isin(terms: _*))   // prune before the shuffle
      .groupBy(col("doc_id"), col("dl"), col("w"))
      .agg(count(lit(1)).as("tf"))
    scorePostings(tf, stats, terms, k1, b)
  }

  /** The BM25 scoring tail over a (doc_id, dl, w, tf) postings frame
    * and a one-row (n, sumdl) corpus-stats frame — shared by the
    * in-flight [[bm25]] and the index-store [[bm25FromIndex]] so the
    * two paths are the same arithmetic by construction. */
  private def scorePostings(tf: DataFrame, stats: DataFrame,
                            terms: Seq[String], k1: Double, b: Double): DataFrame = {
    val df = tf.groupBy(col("w")).agg(count(lit(1)).as("df"))
    val avgdl = col("sumdl").cast("double") / col("n")
    // idf = ln((N - df + 0.5) / (df + 0.5) + 1)  [the standard
    // "+1" BM25 idf, always positive]
    val idf = log((col("n") - col("df") + 0.5) / (col("df") + 0.5) + 1)
    val sco = idf * (col("tf") * lit(k1 + 1.0)) /
      (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / avgdl))
    val perTerm = tf
      .join(broadcast(df), Seq("w"))
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), col("dl"), col("w"), sco.as("sco"))
    val score = terms.map(t => coalesce(col(s"`$t`"), lit(0.0)))
      .reduceLeft(_ + _) // fixed association order
    perTerm
      .groupBy(col("doc_id"), col("dl"))
      .pivot(col("w"), terms)
      .agg(sum(col("sco")))
      .withColumn("score", score)
      .select(col("doc_id"), col("dl"), col("score"))
  }

  /** Term-bucket count for the persisted inverted index: the postings
    * parquet is partitioned by `tb = xxhash64(term) mod TermBuckets`,
    * so a query's scan prunes to ≤ |terms| bucket directories — the
    * inverted-list layout (the knn-store members discipline applied
    * to text). Sized like the knn store's seeds: at 10¹¹ docs a
    * bucket holds ~1/256 of the postings volume, one query touches a
    * few buckets, and appends land new files inside bucket dirs. */
  val TermBuckets: Int = 256

  private def termBucket(w: Column, n: Int): Column =
    pmod(xxhash64(w), lit(n.toLong))

  /** The index's bucket modulus, pinned by the same `_graft_meta`
    * sidecar the component/edge stores use (the d6c lifecycle guard
    * applied here): the modulus freezes into the postings layout at
    * first append, and a reader or appender running with a DIFFERENT
    * `TermBuckets` would silently prune to the wrong dirs / scatter
    * new postings across two bucketings. Resolution order: the
    * store's own sidecar wins; a store with `tb=` data but no sidecar
    * predates the guard — fail fast with the migration recipe rather
    * than guess. A fresh store adopts the current [[TermBuckets]]. */
  private def indexBuckets(spark: org.apache.spark.sql.SparkSession,
                           path: String): Int = {
    val postings = s"$path/postings"
    graft.etl.StoreMeta.read(spark, postings).getOrElse {
      val p = new org.apache.hadoop.fs.Path(postings)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      require(!fs.exists(p) ||
          !fs.listStatus(p).exists(_.getPath.getName.startsWith("tb=")),
        s"BM25 index at $path has postings but no _graft_meta sidecar — " +
          "rebuild through appendBm25Index (or write the sidecar with " +
          "the modulus the store was built with)")
      TermBuckets
    }
  }

  /** PERSISTED INVERTED-INDEX store for BM25 — the retrieval family's
    * incremental face (the d9/knn1b store discipline applied to the
    * search index, which at 100 TB is the difference between "re-scan
    * the corpus per query batch" and "serve from the index"). Layout
    * under `path`:
    *
    *  - `postings/` — (doc_id, dl, w, tf) for EVERY term, parquet
    *    partitioned by term bucket: queries prune to their terms'
    *    buckets; appends land new files inside bucket dirs, stored
    *    postings never rewritten;
    *  - `docs/` — one (doc_id, dl) row per indexed doc: the doc-length
    *    sidecar every BM25 index keeps. Corpus stats (N, Σdl) DERIVE
    *    from it at query time — a 2-column vectorized scan, never a
    *    read-modify-write — so the stats can never drift from the doc
    *    set (at very large N, roll the two scalars up during
    *    compaction instead of rescanning).
    *
    * The append is IDEMPOTENT per artifact (the appendKnnGraph
    * discipline): postings anti-join on the postings' own doc ids,
    * doc rows on the sidecar's — so a replayed batch adds nothing to
    * either, and a crash BETWEEN the two appends is healed by the
    * retry filling exactly the missing artifact. Because doc postings
    * are immutable and the sidecar append-only, the index after any
    * append sequence equals the one-shot build over the same docs,
    * and [[bm25FromIndex]]'s scores equal [[bm25]]'s bit-for-bit —
    * r1b gates on r1's oracle VERBATIM. Returns the number of docs
    * actually added to the sidecar. */
  def appendBm25Index(docs: DataFrame, idCol: String, textCol: String,
                      path: String): Long = {
    val spark = docs.sparkSession
    val nb = indexBuckets(spark, path)
    // pin the modulus BEFORE the first append (append never deletes
    // the dir, so the sidecar can lead the data; a crash in between
    // leaves a sidecar over an empty store — consistent either way)
    if (graft.etl.StoreMeta.read(spark, s"$path/postings").isEmpty)
      graft.etl.StoreMeta.write(spark, s"$path/postings", nb)
    val base = docs.select(
      col(idCol).as("doc_id"),
      split(col(textCol), " ").as("ws"))
      .withColumn("dl", size(col("ws")))
    // postings first: only token-bearing docs ever have posting rows,
    // so keying this artifact on its own doc ids stays stable. The
    // novelty read is PRUNED to the DELTA'S OWN term buckets (r16):
    // a previously-appended doc's postings live in its own terms'
    // buckets, and the delta recomputes the same term set from the
    // same text (same-id-different-text is an upsert — outside this
    // store's contract like every immutable artifact here), so
    // scanning only those dirs finds every stored delta doc — the id
    // read is delta-term-bucket-sized, not index-sized (the
    // appendToIndex signature-pruning recipe).
    val toks = base.filter(size(col("ws")) > 0)
    val novelP =
      // "has data", not "dir exists": the _graft_meta sidecar leads the
      // first postings write, so the bare dir is not yet a readable store
      (if (graft.etl.StoreMeta.hasData(spark, s"$path/postings")) {
        val deltaTbs = toks
          .select(explode(col("ws")).as("w"))
          .select(termBucket(col("w"), nb).as("tb")).distinct()
          .collect().map(_.getLong(0)).toSeq // ≤ nb rows, driver-bounded
        toks.join(
          spark.read.parquet(s"$path/postings")
            .filter(col("tb").isin(deltaTbs: _*)) // partition-pruned
            .select(col("doc_id")).distinct(),
          Seq("doc_id"), "left_anti")
      } else toks)
    // materialize before touching the store; the emptiness gate rides
    // the pin's own job (r17, ObservedPin — was an isEmpty action)
    val (novelPinned, nm) = graft.etl.ObservedPin(novelP,
      Seq(count(lit(1)).as("__n")))
    val nNovel = nm.map(graft.etl.ObservedPin.long(_, "__n"))
      .getOrElse(novelPinned.count())
    if (nNovel > 0)
      novelPinned.select(col("doc_id"), col("dl"), explode(col("ws")).as("w"))
        .groupBy(col("doc_id"), col("dl"), col("w"))
        .agg(count(lit(1)).as("tf"))
        .withColumn("tb", termBucket(col("w"), nb))
        .repartition(col("tb"))
        .write.mode("append").partitionBy("tb").parquet(s"$path/postings")
    // doc-length sidecar: a self-pinning bucketed keyed log — the
    // existing-id anti-join reads only the delta's own `__kb=` dirs
    graft.etl.Sinks.idempotentAppendBucketed(
      base.select(col("doc_id"), col("dl")), s"$path/docs", Seq("doc_id"))
  }

  /** Fold the index's append-accumulated small files
    * (etl.BucketCompaction): every term-bucket dir and the doc-length
    * sidecar rewrite to ONE file each, so a query's pruned read opens
    * O(|terms|) footers however many append batches built the index.
    * Row-preserving by construction — [[bm25FromIndex]] over the
    * compacted index equals the uncompacted one bit-for-bit (r1c
    * gates on r1's oracle VERBATIM; CompactionSpec asserts the 1-file
    * bound and row identity). Run in the store's maintenance slot
    * between appends. Returns the dirs rewritten. */
  def compactBm25Index(spark: org.apache.spark.sql.SparkSession,
                       path: String): Seq[String] =
    graft.etl.BucketCompaction.compactStore(spark, s"$path/postings", "tb")
      .map(d => s"postings/$d") ++
      graft.etl.BucketCompaction.compactStore(spark, s"$path/docs", "__kb")
        .map(d => s"docs/$d")

  /** Heal both swap sites a crashed [[compactBm25Index]] can leave —
    * term-bucket dirs parked inside `postings/` and the `docs` sidecar
    * parked at the index root. Call at the TOP of a maintained
    * stream's foreachBatch body, BEFORE the append's novelty reads: a
    * live dir absent mid-swap would read as "all novel", re-append
    * stored docs, and hand the next compaction's heal a live dir to
    * justify sweeping the parked full store. */
  def healBm25Index(spark: org.apache.spark.sql.SparkSession,
                    path: String): Unit = {
    graft.etl.BucketCompaction.heal(spark, path)
    graft.etl.BucketCompaction.heal(spark, s"$path/postings")
    graft.etl.BucketCompaction.heal(spark, s"$path/docs")
  }

  /** BM25 over the persisted index: the scan prunes to the query
    * terms' bucket dirs (partition filter on tb — asserted in
    * RetrievalSpec), document frequencies come from the pruned
    * postings and corpus stats from the summed stats rows; the
    * scoring tail is [[bm25]]'s own. */
  def bm25FromIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                    terms: Seq[String], k1: Double = K1,
                    b: Double = B): DataFrame = {
    // the terms' bucket ids under the STORE's pinned modulus, computed
    // by the same expression that bucketed the postings (one 1-row
    // job; never hand-rolled hashing)
    val n = indexBuckets(spark, path)
    val tbs = spark.range(1)
      .select(terms.map(t => termBucket(lit(t), n)): _*)
      .collect()(0).toSeq.map(_.asInstanceOf[Long]).distinct
    val tf = spark.read.parquet(s"$path/postings")
      .filter(col("tb").isin(tbs: _*) && col("w").isin(terms: _*))
      .select(col("doc_id"), col("dl"), col("w"), col("tf"))
    val stats = spark.read.parquet(s"$path/docs")
      .agg(count(lit(1)).as("n"), sum(col("dl")).as("sumdl"))
    scorePostings(tf, stats, terms, k1, b)
  }

  /** Hybrid lexical+dense retrieval fused by Reciprocal Rank Fusion
    * (Cormack et al., SIGIR'09: score = Σ_lanes 1/(k + rank)) — the
    * standard first-stage retriever of a RAG / targeted-corpus-slicing
    * pipeline, where BM25 catches exact-term matches and the embedding
    * lane catches paraphrases.
    *
    * Scale shape: each lane ends in `orderBy(...).limit(k)` =
    * TakeOrderedAndProject (per-partition partial top-k; the corpus is
    * never globally sorted). Ranks over the ALREADY-BOUNDED k rows are
    * assigned WINDOWLESSLY (a broadcast O(k²) comparison join —
    * trivially cheap at k=50 and it keeps the whole query surface free
    * of unpartitioned windows, the PlanSpec invariant), and the fuse
    * is a k×k full-outer join on ids. The only corpus-sized work is
    * the two scans: BM25's pruned token shuffle and one broadcast-
    * probe cosine pass. At 100 TB both lanes stay map-side +
    * TakeOrdered; the fusion cost is O(k²) with k fixed.
    *
    * Engine-portable determinism: lane ranks are computed on ROUNDED
    * scores (4dp lexical / 6dp dense — the same grids r1/v1 use) with
    * id tie-breaks, and the RRF sum `1/(K+lr) + 1/(K+dr)` is two
    * exact-int divisions added in fixed order, so an SQL oracle
    * reproduces the exact ranking.
    *
    * @param docs  (idCol, textCol) corpus for the lexical lane
    * @param embs  (embIdCol, vecCol) embeddings for the dense lane;
    *              embIdCol aligns with docs' idCol
    * @param probeId probe row of embs (the query embedding), excluded
    *              from dense candidates
    */
  def hybridRrf(docs: DataFrame, embs: DataFrame, idCol: String,
                textCol: String, embIdCol: String, vecCol: String,
                terms: Seq[String], probeId: Long, laneK: Int = 50,
                rrfK: Int = 60, topK: Int = 20): DataFrame = {
    import graft.functions.Rounding.exactRound
    import graft.functions.{VectorFunctions => VF}

    // Each lane top is PINNED before [[rankBounded]] (r17): the rank
    // join references its input twice, and the final readout's second
    // rankBounded references the fused frame (containing both lanes)
    // twice more — unpinned, the corpus-sized lane subtrees replanned
    // 4× each (74 Exchanges / 40 scans in the r17 before-plan; the
    // pinned readout plans 6 Exchanges over checkpoint blocks). The
    // pins are bounded pages (≤ laneK/topK rows) — the mmrRerank
    // `cand` discipline.
    val lexTop = bm25(docs, idCol, textCol, terms)
      .select(col("doc_id"), exactRound(col("score"), 4).as("lscore"))
      .orderBy(col("lscore").desc, col("doc_id"))
      .limit(laneK)
      .localCheckpoint()
    val lex = rankBounded(lexTop, "lscore", "lrank")

    val e = embs.select(col(embIdCol).cast("long").as("doc_id"),
      col(vecCol).cast("array<double>").as("v"))
    val p = e.filter(col("doc_id") === probeId)
      .select(col("v").as("pv"))
    val denseTop = e.crossJoin(broadcast(p))
      .filter(col("doc_id") =!= probeId)
      .select(col("doc_id"),
        exactRound(VF.cosine(col("pv"), col("v")), 6).as("dscore"))
      .orderBy(col("dscore").desc, col("doc_id"))
      .limit(laneK)
      .localCheckpoint()
    val dense = rankBounded(denseTop, "dscore", "drank")

    val fused = lex.join(dense, Seq("doc_id"), "full_outer")
      .select(col("doc_id"), col("lrank"), col("drank"),
        // fixed association order: lexical term first, then dense
        (coalesce(lit(1.0) / (lit(rrfK.toDouble) + col("lrank")), lit(0.0)) +
         coalesce(lit(1.0) / (lit(rrfK.toDouble) + col("drank")), lit(0.0)))
          .as("rrf"))
      .orderBy(col("rrf").desc, col("doc_id"))
      .limit(topK)
      .localCheckpoint() // topK-row page; read twice by the rank join
    // ordering/rank is decided on the RAW rrf doubles (bit-identical
    // across engines: exact int divisions summed in fixed order); the
    // 6dp round is display-grid only
    rankBounded(fused.select(col("doc_id"), col("lrank"), col("drank"),
        col("rrf")), "rrf", "rn",
        carry = Seq("lrank", "drank"))
      .select(col("doc_id"), col("lrank"), col("drank"),
        exactRound(col("rrf"), 6).as("rrf"), col("rn"))
      .orderBy(col("rn"))
  }

  /** Maximal Marginal Relevance rerank (Carbonell & Goldstein '98) of
    * the dense lane's top-k: greedily select `m` results maximizing
    * `λ·rel(c) − (1−λ)·max_{s∈S} sim(c, s)` — the diversity-aware
    * second stage every retrieval/RAG pipeline runs on its first-stage
    * page.
    *
    * Scale/boundedness contract: the corpus-sized work is exactly the
    * first-stage TakeOrdered top-k (one broadcast-probe cosine scan).
    * Everything after operates on the k-row page: pairwise sims are a
    * k×k broadcast join of codegen cosines, and the greedy loop runs
    * on the driver over the COLLECTED k·(k−1) sim table (~20 KB at
    * k=50 — bounded by construction, the t-SNE-tail pattern). m and k
    * are rerank-page constants, never data-sized.
    *
    * Engine-portability: rel and sims are 1e-6-quantized BEFORE the
    * greedy; every arithmetic constant is written so both engines
    * compute identical doubles (`1.0 - λ`, not its shortest decimal) —
    * the oracle unrolls all `m` selection steps and matches the
    * hash. */
  def mmrRerank(embs: DataFrame, idCol: String, vecCol: String,
                probeId: Long, laneK: Int = 50, m: Int = 5,
                lam: Double = 0.7): DataFrame = {
    import graft.functions.Rounding.exactRound
    import graft.functions.{VectorFunctions => VF}
    val spark = embs.sparkSession
    val e = embs.select(col(idCol).cast("long").as("doc_id"),
      col(vecCol).cast("array<double>").as("v"))
    val p = e.filter(col("doc_id") === probeId).select(col("v").as("pv"))
    val cand = e.crossJoin(broadcast(p))
      .filter(col("doc_id") =!= probeId)
      .select(col("doc_id"), col("v"),
        exactRound(VF.cosine(col("pv"), col("v")), 6).as("rel"))
      .orderBy(col("rel").desc, col("doc_id"))
      .limit(laneK)
      .localCheckpoint() // bounded page: laneK rows, read twice below
    val a = cand.select(col("doc_id").as("i"), col("v").as("vi"))
    val b = cand.select(col("doc_id").as("j"), col("v").as("vj"))
    // bounded collects: k rels + k(k-1) pairwise sims
    val sims = a.join(broadcast(b), col("i") =!= col("j"))
      .select(col("i"), col("j"),
        exactRound(VF.cosine(col("vi"), col("vj")), 6).as("sim"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    val rels = cand.select(col("doc_id"), col("rel")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).sortBy(_._1)
    val selected = scala.collection.mutable.ArrayBuffer.empty[(Long, Double, Double)]
    val remaining = scala.collection.mutable.LinkedHashMap(rels.toSeq: _*)
    while (selected.size < m && remaining.nonEmpty) {
      val scored = remaining.toSeq.map { case (id, rel) =>
        val maxSim =
          if (selected.isEmpty) 0.0
          else selected.map(s => sims.getOrElse((id, s._1), 0.0)).max
        (id, rel, lam * rel - (1.0 - lam) * maxSim)
      }
      val best = scored.minBy { case (id, _, sc) => (-sc, id) }
      selected += best
      remaining.remove(best._1)
    }
    val r6 = (x: Double) => math.floor(x * 1000000 + 0.5) / 1000000
    spark.createDataFrame(selected.toSeq.zipWithIndex.map {
        case ((id, rel, sc), i) => (i + 1, id, rel, r6(sc)) })
      .toDF("sel_rank", "doc_id", "rel", "mmr")
      .orderBy(col("sel_rank"))
  }

  /** Exact phrase search through a POSITIONAL inverted index — the
    * operator a 100 TB corpus answers "which docs contain this exact
    * phrase" with, instead of a LIKE scan: per term k of the phrase,
    * the posting list (doc, token_pos − k) — the candidate phrase
    * START each occurrence implies — and an inner join of all lists on
    * (doc, start): a row survives iff every term sits at its offset.
    *
    * Scale shape: each posting list is term-filtered BEFORE any join
    * (the selective-word filter prunes the exploded token stream to a
    * sliver of the corpus), join keys are two longs, and nothing
    * corpus-sized shuffles. In a deployed index the (word → postings)
    * table is built once and reused across queries — exactly s1b's
    * persisted-index economics; here the postings derive inline so the
    * oracle can replay end-to-end. Returns (id, n_matches, first_pos),
    * first_pos 0-based. */
  def phraseSearch(df: DataFrame, idCol: String, textCol: String,
                   phrase: Seq[String]): DataFrame = {
    require(phrase.nonEmpty, "phrase must have at least one term")
    val toks = df.select(col(idCol).as("__id"),
      posexplode(split(col(textCol), " ")).as(Seq("__pos", "__w")))
    val postings = phrase.zipWithIndex.map { case (w, k) =>
      toks.filter(col("__w") === w)
        .select(col("__id"), (col("__pos") - k).as("__start"))
    }
    postings.reduce(_.join(_, Seq("__id", "__start")))
      .groupBy(col("__id"))
      .agg(count(lit(1)).as("n_matches"),
        min(col("__start")).cast("long").as("first_pos"))
      .select(col("__id").as(idCol), col("n_matches"), col("first_pos"))
  }

  /** `row_number() OVER (ORDER BY scoreCol DESC, doc_id)` for a
    * BOUNDED (post-limit) frame, computed without any window: rank =
    * 1 + |rows strictly ahead in the (score desc, doc_id) total
    * order|, via a broadcast comparison self-join. O(k²) comparisons
    * on k ≤ laneK rows — constant-cost, and it keeps unpartitioned
    * windows out of the plan (the PlanSpec scale invariant: rank
    * logic that silently works at k rows must not become a global
    * single-partition sort when someone lifts the limit — this shape
    * degrades into an obvious O(n²) join instead, which a reviewer
    * sees immediately). */
  private def rankBounded(df: DataFrame, scoreCol: String, outCol: String,
                          carry: Seq[String] = Nil): DataFrame = {
    val right = df.select(col("doc_id").as("__rid"),
      col(scoreCol).as("__rs"))
    val ahead = col("__rs") > col(scoreCol) ||
      (col("__rs") === col(scoreCol) && col("__rid") < col("doc_id"))
    df.join(broadcast(right), ahead, "left")
      .groupBy((col("doc_id") +: col(scoreCol) +: carry.map(col)): _*)
      .agg((count(col("__rid")) + 1).cast("int").as(outCol))
  }
}
