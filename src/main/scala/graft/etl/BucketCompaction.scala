package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** In-place small-file compaction for the append-only parquet stores
  * (BM25 `postings/` term buckets, the triangle `edges/` endpoint
  * buckets, flat sidecars like the BM25 `docs/` table): every append
  * lands a new file-set inside its target dir and never rewrites
  * stored rows — exactly the property that makes the appends
  * idempotent and crash-safe, and exactly what accumulates one
  * file-set per batch forever. After 10⁴ appends a bucket read opens
  * 10⁴ footers; this folds a dir back to ONE file without changing a
  * row.
  *
  * Protocol per directory ([[swap]], shared by every store rewrite —
  * compaction, takedown, edge rebuild, rebucket):
  *
  *  1. read the dir, write it as a single file to a staged
  *     `<name>__compact_tmp` sibling;
  *  2. park the live dir as `<name>__compact_old`;
  *  3. publish: rename tmp over the live name;
  *  4. sweep the parked dir.
  *
  * Every crash window heals on the next [[heal]]/compact call: a
  * leftover tmp with the live dir present is a stale artifact
  * (swept, recomputed); a parked dir with NO live dir is a crash
  * between park and publish — the tmp, which was fully written
  * before the park, publishes; a parked dir WITH a live dir is a
  * crash before the sweep (swept). The
  * park→publish window is not atomic for concurrent READERS — run
  * compaction as the store's owner (the maintenance slot between
  * batches), not racing queries.
  *
  * Compaction is row-preserving by construction — one scan, one
  * write, no dedup or reorder semantics — so every store face that
  * gates on a batch oracle still gates VERBATIM over a compacted
  * store (r1c registers exactly that; CompactionSpec asserts
  * row-identity and the 1-file bound dir by dir). Partition-valued
  * dirs (`tb=5`, `eb=12`) keep their value from the DIR NAME, which
  * the swap preserves; `_graft_meta` and other root sidecars are
  * never touched, and a sidecar INSIDE a flat store dir (the
  * parameter pins of the signature/token stores) is copied into the
  * staged replacement so the pin survives the swap.
  */
object BucketCompaction {

  private def fsOf(spark: SparkSession, p: org.apache.hadoop.fs.Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def isData(n: String): Boolean =
    !n.startsWith("_") && !n.startsWith(".") && !n.contains("__compact_")

  /** Data-file count of one dir (0 if absent) — the compaction
    * trigger and the spec's bound. */
  def dataFileCount(spark: SparkSession, dir: String): Int = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = fsOf(spark, p)
    if (!fs.exists(p)) 0
    else fs.listStatus(p).count(s => s.isFile && isData(s.getPath.getName))
  }

  /** The store-root staging dir of the batched swaps ([[swapLeaves]]):
    * readers ignore it (underscore-prefixed, no `=`) and [[heal]]
    * sweeps an orphan. */
  private val StageRoot = "__compact_stage"

  /** Sweep/complete any crashed swap under `parent` — called on entry
    * by every swap caller so a retry always starts from a consistent
    * store. */
  def heal(spark: SparkSession, parent: String): Unit = {
    val pp = new org.apache.hadoop.fs.Path(parent)
    val fs = fsOf(spark, pp)
    if (!fs.exists(pp)) return
    val names = fs.listStatus(pp).map(_.getPath.getName)
    names.filter(_.endsWith("__compact_old")).foreach { o =>
      val live = new org.apache.hadoop.fs.Path(pp,
        o.stripSuffix("__compact_old"))
      val tmp = new org.apache.hadoop.fs.Path(pp,
        o.stripSuffix("__compact_old") + "__compact_tmp")
      if (!fs.exists(live)) {
        // crash between park and publish: the tmp was complete before
        // the park, so publish it; if even the tmp is gone (manual
        // cleanup), restore the parked original instead
        val src = if (fs.exists(tmp)) tmp else new org.apache.hadoop.fs.Path(pp, o)
        require(fs.rename(src, live),
          s"BucketCompaction: heal publish $src -> $live failed")
      }
      val oldP = new org.apache.hadoop.fs.Path(pp, o)
      if (fs.exists(oldP)) fs.delete(oldP, true): Unit
    }
    names.filter(_.endsWith("__compact_tmp")).foreach { t =>
      // live dir present (or just restored): the tmp is stale
      val tp = new org.apache.hadoop.fs.Path(pp, t)
      if (fs.exists(new org.apache.hadoop.fs.Path(pp,
          t.stripSuffix("__compact_tmp"))) && fs.exists(tp))
        fs.delete(tp, true): Unit
    }
    // an orphaned staging root holds only copies of live leaves
    if (names.contains(StageRoot))
      fs.delete(new org.apache.hadoop.fs.Path(pp, StageRoot), true): Unit
  }

  /** [[heal]] for a store swapped as a WHOLE dir (a [[swap]] target):
    * heals the store's PARENT dir, where the swap parks its artifacts.
    * Call at the TOP of every maintained foreachBatch body, BEFORE any
    * `fs.exists` bootstrap check or store read: a crash between the
    * swap's park and publish renames leaves the live dir absent, and a
    * body that bootstraps a fresh empty store there makes the NEXT
    * slot's heal sweep the parked full store — the entire prior
    * corpus/token/index/log state silently lost. Healing first
    * republishes the parked store, so the bootstrap check sees it.
    * Driver-side listing of one dir — per-batch noise. */
  def healAround(spark: SparkSession, path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    if (p.getParent != null) heal(spark, p.getParent.toString)
  }

  /** The staged swap — the one place a store dir is replaced: `stage`
    * writes the replacement into `<dir>__compact_tmp`; in-dir
    * sidecars/markers the staged copy lacks are copied in (a store's
    * `_graft_meta` parameter pin can live inside the dir being
    * swapped; COPY, not move, so every crash window still holds a
    * pinned store); then park the live dir as `<dir>__compact_old`,
    * publish, sweep. Every crash window is one [[heal]] owns, so
    * callers heal the dir's parent on entry. */
  private[graft] def swap(spark: SparkSession, dir: org.apache.hadoop.fs.Path)
                         (stage: org.apache.hadoop.fs.Path => Unit): Unit = {
    val fs = fsOf(spark, dir)
    val tmp = dir.suffix("__compact_tmp")
    val old = dir.suffix("__compact_old")
    if (fs.exists(tmp)) fs.delete(tmp, true): Unit
    stage(tmp)
    if (fs.exists(dir)) {
      fs.listStatus(dir).map(_.getPath).filter { q =>
        val n = q.getName
        (n.startsWith("_graft_meta") || n == "_GRAFT_DONE") &&
          !fs.exists(new org.apache.hadoop.fs.Path(tmp, n))
      }.foreach { q =>
        val in = fs.open(q)
        val bytes = try in.readAllBytes() finally in.close()
        val out = fs.create(new org.apache.hadoop.fs.Path(tmp, q.getName), true)
        try out.write(bytes) finally out.close()
      }
      require(fs.rename(dir, old), s"BucketCompaction: park $dir -> $old failed")
    }
    require(fs.rename(tmp, dir), s"BucketCompaction: publish $tmp -> $dir failed")
    if (fs.exists(old)) fs.delete(old, true): Unit
  }

  /** Batched [[swap]] of several partition leaves of the store at
    * `path`: ONE job writes `rows`, clustered one output task per
    * leaf, to the staging root; each named leaf (`c=v`, or `a=x/b=y`
    * for nested partitions) then swaps in its staged copy through
    * driver-side renames — a leaf with no staged rows is deleted.
    * Callers heal `path` (and nested leaves' parents) on entry. */
  private[graft] def swapLeaves(spark: SparkSession, path: String, rows: DataFrame,
                                partCols: Seq[String], leaves: Seq[String]): Unit = {
    val root = new org.apache.hadoop.fs.Path(path, StageRoot)
    val fs = fsOf(spark, root)
    rows.repartition(partCols.map(col): _*)
      .write.mode("overwrite").partitionBy(partCols: _*).parquet(root.toString)
    leaves.foreach { leaf =>
      val staged = new org.apache.hadoop.fs.Path(root, leaf)
      val live = new org.apache.hadoop.fs.Path(path, leaf)
      if (fs.exists(staged))
        swap(spark, live)(tmp => require(fs.rename(staged, tmp),
          s"BucketCompaction: stage $staged -> $tmp failed"))
      else if (fs.exists(live)) fs.delete(live, true): Unit
    }
    fs.delete(root, true): Unit
  }

  /** Compact the named child dirs of `parent` (each to one file) if
    * they hold more than `maxFiles` data files. Returns the dirs
    * actually rewritten. */
  def compactDirs(spark: SparkSession, parent: String, dirs: Seq[String],
                  maxFiles: Int = 1): Seq[String] = {
    heal(spark, parent)
    dirs.filter { d =>
      dataFileCount(spark, s"$parent/$d") > maxFiles
    }.map { d =>
      // one task per dir — a bucket is read-task-sized by the stores'
      // data-sized bucket contract, so coalesce(1) bounds memory at
      // one bucket, never the store
      swap(spark, new org.apache.hadoop.fs.Path(parent, d)) { tmp =>
        spark.read.parquet(s"$parent/$d").coalesce(1)
          .write.mode("overwrite").parquet(tmp.toString)
      }
      d
    }
  }

  /** Compact every partition dir (`<partPrefix>=<value>`) of a
    * bucket-partitioned store holding more than `maxFiles` data
    * files. The dir listing is one driver-side metadata call bounded
    * by the store's bucket count (≤ 2¹⁴ by the stores' sizing caps).
    *
    * BATCHED (r16, verdict #4): the r15 pricing showed the slot cost
    * is ~0.1-0.2 s FIXED per folded dir — one Spark job each (st20:
    * ~35 dirs ≈ 6 s, 3-5× a normal batch). Here ONE job folds every
    * needing dir ([[swapLeaves]]): a partition-pruned read of exactly
    * those dirs, clustered one output task per partition value (1
    * file per dir by construction); the per-dir swaps are driver-side
    * metadata ops in the windows [[heal]] owns. Falls back to the
    * per-dir path for non-integer partition values (none in this
    * codebase). */
  def compactStore(spark: SparkSession, path: String, partPrefix: String,
                   maxFiles: Int = 1): Seq[String] = {
    val pp = new org.apache.hadoop.fs.Path(path)
    val fs = fsOf(spark, pp)
    if (!fs.exists(pp)) return Seq.empty
    heal(spark, path)
    val names = fs.listStatus(pp).map(_.getPath.getName)
      .filter(n => n.startsWith(s"$partPrefix=") && !n.contains("__compact_"))
      .toSeq.sorted
    val need = names.filter(d => dataFileCount(spark, s"$path/$d") > maxFiles)
    if (need.isEmpty) return Seq.empty
    val vals = scala.util.Try(
      need.map(_.stripPrefix(s"$partPrefix=").toInt)).toOption
    if (vals.isEmpty) return compactDirs(spark, path, need, maxFiles)
    swapLeaves(spark, path,
      spark.read.parquet(path).filter(col(partPrefix).isin(vals.get: _*)),
      Seq(partPrefix), need)
    need
  }
}
