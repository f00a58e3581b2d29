package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables._
import graft.functions.HashFunctions.minhashBuckets

/** Persisted MinHash band-bucket index — the TEXT twin of
  * [[AnnIndex]]: near-dup state at rest, so a continuously-ingesting
  * corpus admits each day's crawl against yesterday's index instead
  * of re-MinHashing 100 TB of standing text per batch.
  *
  * The index holds (doc_id, band, bucket) — 16 band hashes per doc
  * (~16×16 B rows), ~0.1% of corpus bytes; the text itself is never
  * read again after its buckets are written. Bucket codes are a pure
  * function of the text (the same native minhash_buckets kernel the
  * batch LSH paths run), so append parity with a rebuild holds by
  * construction, exactly as AnnIndex.append's assignment purity does.
  *
  * [[admit]] is the ingest-admission decision (three stages, each
  * with the 100 TB shape):
  *   1. CORPUS screen: batch docs sharing ≥1 (band, bucket) with the
  *      index are near-dups of standing documents (a band collision
  *      fires at ~J^8, ≈0.66 at Jaccard 0.95, ~1 for exact/boilerplate
  *      repeats — the same trade nearDedupStream documents) and are
  *      rejected. The index side bloom-reduces to ~|batch buckets|
  *      BEFORE any exchange (ScaleJoins.bloomReducedSemiJoin) — the
  *      standing index never shuffles, only its batch-colliding rows.
  *   2. IN-BATCH collapse: survivors that are near-dups of each other
  *      keep one representative (star edges → components → min id,
  *      the proven dedup_minhash_clusters path, bounded by |batch|).
  *   3. The decision is PURE — [[ingest]] commits it by appending the
  *      admitted docs' buckets (map-only write).
  *
  * Admission is intentionally one-sided: borderline pairs whose bands
  * all miss defer to the periodic batch LSH pass over the corpus —
  * the stream/batch split every production dedup pipeline makes.
  *
  * [[delete]] is the takedown verb (the twin of AnnIndex.delete): a
  * removed doc's buckets stop screening future batches immediately —
  * a RE-INGEST of equivalent text is admitted again — and [[compact]]
  * folds the tombstones away physically (plus the per-batch small
  * files every append leaves). Storage protocol = [[IndexFiles]]:
  * immutable bucket files, a versioned manifest as the committed
  * snapshot, conditional manifest commits (object-store-safe), a
  * bounded-wait writer lock (an append WAITS out a compact instead of
  * dying — streaming ingest survives maintenance), and [[vacuum]] for
  * physical reclamation. */
object TextIndex {

  /** True when `dir` holds a committed index (a manifest exists). */
  def hasIndex(s: SparkSession, dir: String): Boolean =
    IndexFiles.hasIndex(s, dir)

  /** Committed-snapshot summary — see [[AnnIndex.Status]]. */
  def status(s: SparkSession, dir: String): AnnIndex.Status = {
    val m = IndexFiles.read(s, dir)
    AnnIndex.Status(m.version, m.built, m.data.size.toLong,
      m.tombstones.size.toLong)
  }

  /** (doc_id, band, bucket) — map-only, one codegen'd kernel pass. */
  def bucketsOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      posexplode(minhashBuckets(col("text"))).as(Seq("band", "bucket")))

  /** Destructive (re)build: fresh manifest generation, prior
    * tombstones cleared — a rebuild re-admits previously taken-down
    * ids (the re-ingest-after-takedown flow). */
  def build(s: SparkSession, docs: DataFrame, dir: String): Unit =
    IndexFiles.commitRebuild(s, dir, "buckets") {
      bucketsOf(docs).write.mode("overwrite").parquet(s"$dir/buckets")
    }

  def append(s: SparkSession, docs: DataFrame, dir: String): Unit =
    IndexFiles.commitDataAppend(s, dir, "buckets") {
      bucketsOf(docs).write.mode("append").parquet(s"$dir/buckets")
    }

  /** Tombstone `ids`: their buckets stop screening batches from the
    * next [[admit]] on (so equivalent text re-ingests cleanly after a
    * takedown); [[compact]] removes them physically. Safe against a
    * racing compact by construction — the tombstone files enter the
    * manifest via the same conditional commit, so a compact can clear
    * only the files it actually folded. */
  def delete(s: SparkSession, dir: String, ids: Seq[Long]): Unit = {
    import s.implicits._
    delete(s, dir, ids.toDF("doc_id").coalesce(1))
  }

  /** Takedown list as a DataFrame (first column = ids, cast to long) —
    * the corpus-scale shape, as in AnnIndex.delete: a takedown/recrawl
    * list is data, not a driver-side Seq. */
  def delete(s: SparkSession, dir: String, ids: DataFrame): Unit =
    IndexFiles.appendTombstones(s, dir, ids, "doc_id")

  /** The index's live bucket rows (manifest-resolved, tombstones
    * dropped) — None when the live set is empty (all docs deleted and
    * compacted away, or a fresh corpus). */
  private def liveBucketRows(s: SparkSession, dir: String): Option[DataFrame] = {
    val m = IndexFiles.read(s, dir)
    IndexFiles.dataFrame(s, dir, "buckets", m)
      .map(IndexFiles.dropTombstoned(s, dir, m, _, "doc_id"))
  }

  /** Public live-rows view for specs/tools — what a full scan of the
    * index means under the snapshot protocol (a raw directory read
    * would also see compact-replaced litter awaiting [[vacuum]]). */
  def liveRows(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    liveBucketRows(s, dir).getOrElse(
      s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(StructField("doc_id", LongType),
          StructField("band", IntegerType), StructField("bucket", LongType)))))
  }

  /** Reclaim files no manifest references (compact-replaced buckets,
    * folded tombstones, superseded manifests) — see
    * [[IndexFiles.vacuum]] for the grace-window contract. */
  def vacuum(s: SparkSession, dir: String, graceMs: Long = 0L): Long =
    IndexFiles.vacuum(s, dir, "buckets", graceMs)

  /** TARGETED compaction — fold litter, not the corpus. The rewrite
    * set is exactly: live bucket files smaller than `smallFileBytes`
    * (the per-append litter) plus files that physically CONTAIN
    * tombstoned docs' rows ([[IndexFiles.filesWithTombstonedRows]] —
    * stats-pruned, footer-bound for small takedowns). Everything else
    * is untouched — not read, not moved, byte-identical (files are
    * immutable; only the manifest pointer swaps). Cost is O(litter):
    * a year-old 100 TB bucket index pays only for the files recent
    * appends and takedowns actually touched. Replaced files stay on
    * disk until [[vacuum]]. Returns (live files before, after). */
  def compact(s: SparkSession, dir: String,
              smallFileBytes: Long = 16L << 20): (Long, Long) =
    IndexFiles.withWriterLock(s, dir) {
      val man = IndexFiles.read(s, dir)
      compactLocked(s, dir, man, smallFileBytes)
    }

  private def compactLocked(s: SparkSession, dir: String,
                            man: IndexFiles.Manifest,
                            smallFileBytes: Long): (Long, Long) = {
    val before = man.data.size.toLong
    val dirty =
      IndexFiles.filesWithTombstonedRows(s, dir, "buckets", man, "doc_id")
    val small = man.data.filter(_.size < smallFileBytes).map(_.rel).toSet
    val rewrite = small ++ dirty
    // fewer than two clean small files and no delete to fold → nothing
    // a rewrite would improve
    if (dirty.isEmpty && rewrite.size <= 1) {
      if (man.tombstones.nonEmpty) {
        val observed = man.tombFiles.toSet
        IndexFiles.commit(s, dir)(cur =>
          cur.copy(tombstones = cur.tombstones.filterNot(e => observed(e.rel))))
      }
      return (before, before)
    }
    val root = new Path(s"$dir/buckets")
    val fs = IndexFiles.fsFor(s, root)
    val preExisting = IndexFiles.listParquet(fs, root).map(_.rel).toSet
    val rows = IndexFiles.dataFrame(s, dir, "buckets",
      man.copy(data = man.data.filter(e => rewrite(e.rel)))).get
    val rewriteBytes = man.data.filter(e => rewrite(e.rel)).map(_.size).sum
    val targetFiles = math.max(1L, rewriteBytes / (64L << 20)).toInt
    IndexFiles.dropTombstoned(s, dir, man, rows, "doc_id")
      .coalesce(targetFiles)
      .write.mode("append").parquet(root.toString)
    val added = IndexFiles.listParquet(fs, root)
      .filterNot(e => preExisting(e.rel))
    val next = IndexFiles.commitCompactSwap(s, dir, rewrite, added,
      man.tombFiles.toSet)
    (before, next.data.size.toLong)
  }

  /** The pure admission decision: batch docs that are near-dup-free
    * against the index AND first-of-their-cluster within the batch.
    * `expectedBatchBuckets` sizes the bloom (≈ 16 × batch docs; a
    * loose upper bound is fine). */
  def admit(s: SparkSession, batch: DataFrame, dir: String,
            expectedBatchBuckets: Long = 1L << 20): DataFrame = {
    val fresh = liveBucketRows(s, dir) match {
      case None => batch // empty live index screens nothing
      case Some(idx) =>
        val bb = bucketsOf(batch)
        val collided = ScaleJoins
          .bloomReducedSemiJoin(bb, idx, Seq("band", "bucket"),
            expectedBatchBuckets)
          .select(col("doc_id")).distinct()
        batch.join(collided, Seq("doc_id"), "left_anti")
    }
    // in-batch collapse: non-root cluster members drop; singletons
    // (absent from the component labels) pass untouched
    val nonRoots = Components
      .connectedComponents(Dedup.minhashLshEdges(fresh))
      .where(col("id") =!= col("comp"))
      .select(col("id").as("doc_id"))
    fresh.join(nonRoots, Seq("doc_id"), "left_anti")
  }

  /** Admit + commit: append the admitted docs' buckets so the NEXT
    * batch screens against them too. Returns the admitted docs.
    *
    * The admission decision materializes ONCE (Lineage.truncate):
    * without it, the append would run the full pipeline — bloom probe,
    * semi/anti joins, component collapse — and the caller's use of the
    * returned frame would run it all AGAIN, doubling the hot streaming
    * path and racing the index the append just grew. Batches are
    * bounded by construction (a crawl window), so holding one
    * materialized batch is safe.
    *
    * CONCURRENT ingests are safe but admission is snapshot-based:
    * each batch screens against the manifest it resolved, and the
    * appends serialize under the writer lock — the index is never
    * torn. Two batches admitted concurrently do NOT screen against
    * EACH OTHER, so mutual near-dups across them can co-admit
    * (at-least-once admission, the same guarantee level as the
    * append path itself). The alternative — holding the writer lock
    * across the whole admit — would serialize blob decode and bloom
    * probing behind a mutex; over-admission is bounded by one batch
    * window and the periodic batch dedup sweeps it. A THIRD batch of
    * the same content fully rejects (TextIndexSpec pins all three
    * properties). */
  def ingest(s: SparkSession, batch: DataFrame, dir: String,
             expectedBatchBuckets: Long = 1L << 20): DataFrame = {
    val admitted = Lineage.truncate(admit(s, batch, dir, expectedBatchBuckets))
    append(s, admitted, dir)
    admitted
  }

  /** Gate entry: same deterministic corpus/batch split as
    * dedup_incremental (corpus = doc_id % 10 ≠ 0, batch ≡ 0 mod 10).
    * The synthetic corpus carries exact-duplicate text groups, so
    * batch docs whose text repeats a corpus doc collide on every band
    * and are rejected; genuinely new docs are admitted. Probabilistic
    * near-dup semantics → rows-only (TextIndexSpec pins rejection/
    * admission/in-batch collapse on planted docs).
    *
    * With `indexDir` set (the REPL flow: `index build text <dir>`,
    * then `pipeline dedup_incremental_near indexDir=<dir>`) the batch
    * screens against THAT standing index instead of a fresh
    * corpus-split build — so a `index delete text` takedown is
    * immediately observable as re-admission through the SQL surface. */
  def dedupIncrementalNear(s: SparkSession, d: String,
                           indexDir: String = ""): DataFrame = {
    val all = documents(s, d)
    val dir =
      if (indexDir.nonEmpty) {
        require(IndexFiles.hasIndex(s, indexDir),
          s"no text index at $indexDir — run `index build text` first")
        indexDir
      } else {
        val t = java.nio.file.Files
          .createTempDirectory("graft_textindex_gate").toString
        build(s, all.where(col("doc_id") % 10 =!= 0), t)
        t
      }
    ingest(s, all.where(col("doc_id") % 10 === 0), dir)
      .select(col("doc_id"), col("source"), col("lang"))
      .orderBy(col("doc_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_incremental_near" -> ((s, d) => dedupIncrementalNear(s, d))
  )

  val oracles: Map[String, String] = Map.empty
}
