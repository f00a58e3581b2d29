package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables._

/** Persisted near-dup index for the MEDIA planes — the
  * image/audio/video twin of [[TextIndex]], closing the last plane
  * where incremental ingest had to re-fingerprint the standing corpus
  * per batch (batch dedup: Multimodal.dedupImagePhash/dedupAudioFp/
  * dedupFrameContainment; streaming: EventStreams' ephemeral-state
  * admission — neither is an index AT REST).
  *
  * The index holds (doc_id, plane, band, bucket, h): ≤[[VideoKMins]]
  * 64-bit fingerprint rows per blob, banded into the bucket rows the
  * admission join keys on — ≤4 rows of ~40 B per blob, a vanishing
  * fraction of media bytes; the blobs themselves are never read again
  * after their signatures are written. Per plane:
  *
  *   - `audio` (RIFF/WAV sniff): [[Multimodal.audioFp64]] — the
  *     energy-envelope fingerprint — banded 4 × 16 bits (the
  *     Dedup.hamming64StarEdges band layout).
  *   - `image` (decodable image): [[Multimodal.ImageDecoder.aHash64]]
  *     — the rotation-canonical perceptual hash — banded 4 × 16 bits.
  *   - `video` (any other blob, treated as a frame container): the
  *     k = [[VideoKMins]] SMALLEST distinct frame-slice xxhash64
  *     values — a bottom-k MinHash of the frame SET (order-invariant:
  *     re-cut clips collapse). Each minimum is one band whose bucket
  *     is the full 64-bit value, so a trimmed clip — the most common
  *     video near-dup — collides on any SURVIVING minimum: if the
  *     original's j-th minimum (j ≤ k) survives the trim, at most
  *     j−1 smaller values survive with it, so it is in BOTH blobs'
  *     bottom-k sets and bucket equality fires. Collision probability
  *     under containment c is 1−(1−c)^k instead of the single-min
  *     scheme's ≈c (round 14). All k rows share band 0 in the bucket
  *     table — min-sketch values live in ONE hash space, and keying
  *     buckets by RANK would forfeit exactly the trim property (a
  *     surviving minimum shifts rank when smaller minima are cut).
  *     Frame hashes are bit-identical to [[Multimodal.frameSignatures]]'
  *     declarative `xxhash64(substring(blob, ...))` (same XXH64, seed
  *     42), so the batch twin pins parity: the k-min set equals
  *     the bottom-k of frameSignatures' distinct `sh` column.
  *
  * Fingerprints are a pure function of the blob (the same kernels the
  * batch planes run), so append parity with a rebuild holds by
  * construction — the [[TextIndex]]/[[AnnIndex]] purity argument.
  *
  * **Signature-scheme generation**: [[build]] stamps the manifest's
  * build generation with the [[FormatGen]] prefix (`media-v2` since
  * the bottom-k video scheme). Readers ([[liveBucketRows]], hence
  * admit/ingest/status over live rows) refuse an index written by a
  * different scheme with a rebuild instruction — mixing v1 single-min
  * rows into a v2 screen would silently weaken (or spuriously fire)
  * video admission.
  *
  * [[admit]] mirrors TextIndex three-stage admission with one media
  * difference: a bucket collision alone does not reject. Image/audio
  * band buckets over-merge on degenerate bands (flat images zero
  * whole bands — the reason Multimodal's batch planes Hamming-verify
  * star edges), so the corpus screen joins colliding candidates
  * (index side bloom-reduced BEFORE any exchange, the standing index
  * never shuffles) and rejects only batch blobs within exact Hamming
  * ≤ maxHamming of a standing fingerprint (video: bucket equality IS
  * the verification — the bucket is the full 64-bit key). In-batch
  * collapse then keeps one representative per cluster — Hamming star
  * edges PER PLANE for image and audio (aHash and audio-fp live in
  * unrelated hash spaces, and both threshold bits against the blob's
  * own mean, so degenerate blobs — a flat image, a constant-envelope
  * clip — each fingerprint to all-ones; clustering them together
  * would link across planes at Hamming 0 and reject a valid blob),
  * min-key grouping for video — and [[ingest]] commits the pure
  * decision by appending the admitted blobs' signature rows (map-only
  * write).
  *
  * **Un-fingerprintable blobs** (empty; WAV-sniffed but undecodable —
  * float/ADPCM/24-bit encodings): [[signatureOf]] yields no row, so
  * they can collide with nothing — screening is vacuous — and
  * [[admit]] passes them through ADMITTED by policy (they reach the
  * durable output; a quarantine split is one `where` on the consumer
  * side). They contribute no signature rows on append, so two
  * identical unsignatured blobs both admit — byte-identity stays
  * [[Multimodal.blobExact]]'s plane. MediaIndexSpec/EdgeCaseSpec pin
  * the policy.
  *
  * Storage protocol = [[IndexFiles]] — identical manifest/tombstone/
  * compact/vacuum contract as TextIndex; [[delete]] is the takedown
  * verb (a removed doc's buckets stop screening immediately, so
  * re-encoded equivalents re-ingest after a takedown). */
object MediaIndex {

  private val FrameBytes = 64

  /** Bottom-k size of the video frame-set sketch — matches the
    * image/audio band count, so every plane screens through 4 bucket
    * rows per blob. */
  val VideoKMins = 4

  /** Signature-scheme generation prefix stamped into the manifest's
    * build generation — bump when fingerprint semantics change so a
    * stale index fails loud instead of screening wrong. */
  val FormatGen = "media-v2"

  private val sigSchema = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("plane", StringType, nullable = false),
    StructField("h", LongType, nullable = false)))

  /** (doc_id, plane, h) — ONE map-only batched pass over the blobs
    * (the Multimodal mapPartitions codec shape: javax.imageio / RIFF
    * parsing is imperative, everything downstream of the 8-byte hashes
    * is declarative). Sniff order matches [[Multimodal.decodeFeatures]]:
    * WAV first, then image decode, else the frame-container fallback.
    * Image/audio yield one row; video yields its bottom-k frame-hash
    * rows (≤[[VideoKMins]], distinct). Undecodable audio and empty
    * blobs yield no row (a stub hash would manufacture spurious
    * near-dup clusters). */
  def signaturesOf(blobs: DataFrame): DataFrame = {
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder
      .encoderFor(sigSchema)
    blobs.select(col("doc_id").cast(LongType), col("blob"))
      .mapPartitions { rows =>
        rows.grouped(Multimodal.BatchSize).flatMap { batch =>
          batch.iterator.flatMap { r =>
            val id = r.getLong(0)
            val blob = r.getAs[Array[Byte]](1)
            signatureOf(blob).map { case (plane, h) => Row(id, plane, h) }
          }
        }
      }(enc)
  }

  /** The per-blob kernel behind [[signaturesOf]] — exposed for specs.
    * One (plane, h) per image/audio blob; up to [[VideoKMins]] rows
    * (the bottom-k distinct frame hashes, ascending) per video blob;
    * empty for un-fingerprintable blobs. */
  def signatureOf(blob: Array[Byte]): Seq[(String, Long)] =
    if (blob == null || blob.isEmpty) Nil
    else if (Multimodal.WavDecoder.sniffs(blob))
      Multimodal.audioFp64(blob).map(("audio", _)).toSeq
    else Multimodal.ImageDecoder.decodeImage(blob) match {
      case Some((_, img)) =>
        Seq(("image", Multimodal.ImageDecoder.aHash64(img)))
      case None => kMinFrameHashes(blob).map(("video", _)).toSeq
    }

  /** Bottom-k distinct frame-slice hashes, ascending — bit-identical
    * to the k smallest distinct `xxhash64(substring(blob, f*64+1, 64))`
    * values over [[Multimodal.frameSignatures]]' slicing (XXH64, seed
    * 42; the last slice is the shorter tail, exactly as substring
    * clips it). A blob with fewer than k distinct frame hashes yields
    * them all. */
  def kMinFrameHashes(blob: Array[Byte], k: Int = VideoKMins): Array[Long] = {
    val best = new Array[Long](k)
    var used = 0
    var from = 0
    while (from < blob.length) {
      val len = math.min(FrameBytes, blob.length - from)
      val h = XXH64.hashUnsafeBytes(blob,
        org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + from, len, 42L)
      if (used < k || h < best(used - 1)) {
        // insertion into the sorted bottom-k, skipping duplicates
        var i = 0
        while (i < used && best(i) < h) i += 1
        if (i >= used || best(i) != h) {
          if (used < k) used += 1
          var j = used - 1
          while (j > i) { best(j) = best(j - 1); j -= 1 }
          best(i) = h
        }
      }
      from += FrameBytes
    }
    java.util.Arrays.copyOf(best, used)
  }

  /** Band rows of a signature table: image/audio explode to the
    * 4 × 16-bit band layout of [[Dedup.hamming64StarEdges]] (bucket =
    * an unsigned 16-bit slice); each video k-min row is one band-0 row
    * whose bucket is the full hash (rank-keyed bands would break trim
    * collisions — see the object doc). The full fingerprint `h` rides
    * along for the admission verify. */
  def bandRows(sig: DataFrame): DataFrame = {
    val banded = sig.where(col("plane") =!= "video")
      .select(col("doc_id"), col("plane"), col("h"),
        explode(array((0 until 4).map { j =>
          struct(lit(j).as("band"),
            shiftrightunsigned(col("h"), j * 16)
              .bitwiseAND(0xFFFFL).as("bucket"))
        }: _*)).as("bb"))
      .select(col("doc_id"), col("plane"),
        col("bb.band").as("band"), col("bb.bucket").as("bucket"), col("h"))
    val vid = sig.where(col("plane") === "video")
      .select(col("doc_id"), col("plane"),
        lit(0).as("band"), col("h").as("bucket"), col("h"))
    banded.unionAll(vid)
  }

  /** (doc_id, plane, band, bucket, h) for a blob batch — map-only. */
  def bucketsOf(blobs: DataFrame): DataFrame = bandRows(signaturesOf(blobs))

  /** True when `dir` holds a committed index (a manifest exists). */
  def hasIndex(s: SparkSession, dir: String): Boolean =
    IndexFiles.hasIndex(s, dir)

  /** Committed-snapshot summary — see [[AnnIndex.Status]]. */
  def status(s: SparkSession, dir: String): AnnIndex.Status = {
    val m = IndexFiles.read(s, dir)
    AnnIndex.Status(m.version, m.built, m.data.size.toLong,
      m.tombstones.size.toLong)
  }

  /** Destructive (re)build from a blob batch (doc_id, blob) — stamps
    * the [[FormatGen]] signature-scheme generation into the manifest. */
  def build(s: SparkSession, blobs: DataFrame, dir: String): Unit =
    IndexFiles.commitRebuild(s, dir, "buckets",
      s"$FormatGen-${java.util.UUID.randomUUID().toString}") {
      // REBALANCE before the write (round 19): the decode stage runs at
      // session parallelism (withBlobs spreads the synthesis), so a bare
      // write would emit one near-empty file per task; AQE coalesces the
      // tiny band rows into right-sized files at any batch size
      bucketsOf(blobs).hint("rebalance")
        .write.mode("overwrite").parquet(s"$dir/buckets")
    }

  def append(s: SparkSession, blobs: DataFrame, dir: String): Unit =
    IndexFiles.commitDataAppend(s, dir, "buckets") {
      bucketsOf(blobs).hint("rebalance")
        .write.mode("append").parquet(s"$dir/buckets")
    }

  /** Tombstone `ids` — the takedown verb; see [[TextIndex.delete]]. */
  def delete(s: SparkSession, dir: String, ids: Seq[Long]): Unit = {
    import s.implicits._
    delete(s, dir, ids.toDF("doc_id").coalesce(1))
  }

  def delete(s: SparkSession, dir: String, ids: DataFrame): Unit =
    IndexFiles.appendTombstones(s, dir, ids, "doc_id")

  private def liveBucketRows(s: SparkSession, dir: String): Option[DataFrame] = {
    val m = IndexFiles.read(s, dir)
    require(m.built.startsWith(FormatGen),
      s"media index at $dir was written by signature scheme " +
        s"'${m.built.takeWhile(_ != '-')}…', this engine reads $FormatGen — " +
        "rebuild the index (fingerprint semantics changed; screening " +
        "against mixed schemes would be silently wrong)")
    IndexFiles.dataFrame(s, dir, "buckets", m)
      .map(IndexFiles.dropTombstoned(s, dir, m, _, "doc_id"))
  }

  /** Live rows under the snapshot protocol — for specs/tools. */
  def liveRows(s: SparkSession, dir: String): DataFrame =
    liveBucketRows(s, dir).getOrElse(
      s.createDataFrame(s.sparkContext.emptyRDD[Row],
        StructType(Seq(StructField("doc_id", LongType),
          StructField("plane", StringType),
          StructField("band", IntegerType),
          StructField("bucket", LongType),
          StructField("h", LongType)))))

  def vacuum(s: SparkSession, dir: String, graceMs: Long = 0L): Long =
    IndexFiles.vacuum(s, dir, "buckets", graceMs)

  /** Targeted compaction — same litter-only contract as
    * [[TextIndex.compact]] (the two indexes share row shape economics:
    * immutable bucket files, manifest swap, O(litter) cost). */
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
    if (dirty.isEmpty && rewrite.size <= 1) {
      if (man.tombstones.nonEmpty) {
        val observed = man.tombFiles.toSet
        IndexFiles.commit(s, dir)(cur =>
          cur.copy(tombstones = cur.tombstones.filterNot(e => observed(e.rel))))
      }
      return (before, before)
    }
    val root = new org.apache.hadoop.fs.Path(s"$dir/buckets")
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

  /** The pure admission decision over a blob batch (doc_id, blob):
    * batch blobs that verify near a standing fingerprint are rejected;
    * survivors that verify near EACH OTHER keep one representative
    * (clustered PER PLANE — see the object doc); blobs that cannot be
    * fingerprinted pass through admitted (they can collide with
    * nothing). Returns the admitted rows of `batch` (all its columns).
    *
    * Scale shape: the batch's signature table materializes once
    * (Lineage.truncate — it feeds the corpus screen, the in-batch
    * edges, and the rejection join; without truncation every consumer
    * would re-decode every blob); the index side bloom-reduces to
    * ~|batch buckets| before any exchange; verification is a per-pair
    * bit_count over 8-byte fingerprints. */
  def admit(s: SparkSession, batch: DataFrame, dir: String,
            maxHamming: Int = 6,
            expectedBatchBuckets: Long = 1L << 20): DataFrame = {
    val sig = Lineage.truncate(signaturesOf(batch))
    batch.join(rejectedIdsOf(s, sig, dir, maxHamming, expectedBatchBuckets),
      Seq("doc_id"), "left_anti")
  }

  /** The admission decision at the SIGNATURE level: doc_ids of batch
    * blobs rejected by the corpus screen or the in-batch collapse,
    * computed from a precomputed (materialized) signature table so
    * every consumer of the decision — the rejection anti-join, the
    * admitted-signature append, the gate's (doc_id, plane) report —
    * shares ONE decode pass over the blobs. Round-17 profile: the
    * old admit/append/report chain re-ran [[signaturesOf]] three
    * times over the admitted blobs (decode is ~all of the gate's
    * steady-state cost), because each verb re-derived signatures
    * from the blob column instead of reusing the decision's own. */
  private def rejectedIdsOf(s: SparkSession, sig: DataFrame, dir: String,
                            maxHamming: Int,
                            expectedBatchBuckets: Long): DataFrame = {
    val verified = (h1: org.apache.spark.sql.Column,
                    h2: org.apache.spark.sql.Column,
                    plane: org.apache.spark.sql.Column) =>
      when(plane === "video", h1 === h2)
        .otherwise(bit_count(h1.bitwiseXOR(h2)) <= maxHamming)
    val collided = liveBucketRows(s, dir) match {
      case None => sig.where(lit(false)).select(col("doc_id"))
      case Some(idx) =>
        // DISTINCT-FINGERPRINT screen: the decision needs only which
        // batch FINGERPRINTS verify near SOME standing fingerprint —
        // never which standing doc carried it. Band buckets are a pure
        // function of h, so both join sides collapse to distinct
        // (plane, band, bucket, h) before the pair verify and the
        // colliding fingerprints map back to batch doc_ids with one
        // linear semi join on (plane, h). A degenerate bucket then
        // costs |distinct h|² instead of |rows|²: the round-17 sf10
        // profile measured the uncollapsed join at ~70 s of the gate's
        // 63 s min — every flat image fingerprints to the same aHash,
        // so ONE bucket held 14k batch × 85k index rows and the screen
        // was quadratic in corpus size by construction.
        val bbD = bandRows(sig)
          .select(col("plane"), col("band"), col("bucket"), col("h"))
          .distinct()
        val idxD = idx.select(col("plane"), col("band"), col("bucket"),
          col("h").as("_idx_h")).distinct()
        val collidedH = ScaleJoins
          .bloomReducedJoin(bbD, idxD,
            Seq("plane", "band", "bucket"), expectedBatchBuckets)
          .where(verified(col("h"), col("_idx_h"), col("plane")))
          .select(col("plane"), col("h")).distinct()
        sig.join(collidedH, Seq("plane", "h"), "left_semi")
          .select(col("doc_id")).distinct()
    }
    // the screen decision materializes once (a small id list): the
    // three in-batch edge branches below and the final rejected union
    // all anti-join against it — without the truncate each consumer
    // re-ran the whole corpus screen (4× at the sf10 profile)
    val collidedT = Lineage.truncate(collided)
    val fresh = sig.join(collidedT, Seq("doc_id"), "left_anti")
    // in-batch collapse: Hamming star edges PER banded plane (aHash
    // and audio-fp hash spaces are unrelated; a degenerate blob in
    // each fingerprints to all-ones, so mixing the planes would link
    // them at Hamming 0), min-key grouping on video — non-roots drop
    val bandedEdges = Seq("image", "audio").map { plane =>
      Dedup.hamming64StarEdges(
        fresh.where(col("plane") === plane), "doc_id", "h", maxHamming)
    }.reduce(_.unionAll(_))
    val videoEdges = fresh.where(col("plane") === "video")
      .groupBy(col("h")).agg(min(col("doc_id")).as("root"),
        collect_list(col("doc_id")).as("ids"))
      .select(explode(col("ids")).as("id1"), col("root").as("id2"))
      .where(col("id1") =!= col("id2"))
    val nonRoots = Components
      .connectedComponents(bandedEdges.unionAll(videoEdges))
      .where(col("id") =!= col("comp"))
      .select(col("id").as("doc_id"))
    // rejected = corpus collisions ∪ in-batch non-roots; everything
    // else — including unsignatured blobs, which appear in neither —
    // is admitted
    collidedT.unionAll(nonRoots).distinct()
  }

  /** Admit + commit — see [[TextIndex.ingest]] for the
    * materialize-once contract AND the concurrent-ingest semantics
    * (snapshot-based admission: racing batches may co-admit mutual
    * near-dups — at-least-once admission, never a torn index; a later
    * batch screens against everything committed). */
  def ingest(s: SparkSession, batch: DataFrame, dir: String,
             maxHamming: Int = 6,
             expectedBatchBuckets: Long = 1L << 20): DataFrame =
    ingestSigs(s, batch, dir, maxHamming, expectedBatchBuckets)._1

  /** [[ingest]] that also returns the admitted blobs' signature rows
    * (doc_id, plane, h) — already computed for the decision and the
    * append, so a caller that reports on signatures (the gate query)
    * never re-decodes the admitted blobs. Decode-once shape: one
    * [[signaturesOf]] pass feeds the decision, the index append, the
    * returned admitted anti-join, AND the signature report. */
  def ingestSigs(s: SparkSession, batch: DataFrame, dir: String,
                 maxHamming: Int = 6,
                 expectedBatchBuckets: Long = 1L << 20)
      : (DataFrame, DataFrame) = {
    val sig = Lineage.truncate(signaturesOf(batch))
    val rejected = Lineage.truncate(
      rejectedIdsOf(s, sig, dir, maxHamming, expectedBatchBuckets))
    val admittedSig = sig.join(rejected, Seq("doc_id"), "left_anti")
    IndexFiles.commitDataAppend(s, dir, "buckets") {
      // rebalance: same rationale as append — without it every decode
      // task emits its own near-empty bucket file per gate call
      bandRows(admittedSig).hint("rebalance")
        .write.mode("append").parquet(s"$dir/buckets")
    }
    (batch.join(rejected, Seq("doc_id"), "left_anti"), admittedSig)
  }

  /** Built-once gate index per (JVM, data dir): the corpus-side
    * fingerprint pass is the dominant cost of the gate query, and it
    * is a pure function of the standing corpus — rebuilding it per
    * call benches the BUILD, not the admission (the serve_ann_probe
    * discipline: bench MIN tracks steady-state admission; run-1 build
    * shows as spread). Each entry remembers the build-snapshot
    * manifest so later calls ROLL BACK the previous call's append
    * (one conditional manifest commit — appended files become vacuum
    * litter) and re-admit against the pristine standing index:
    * repeated calls are deterministic (MediaIndexSpec pins it). */
  private val gateIndex =
    new java.util.concurrent.ConcurrentHashMap[String, (String, IndexFiles.Manifest)]()

  /** Gate entry: corpus = doc_id % 7 ≠ 0 (all three planes — the %5
    * blob-kind cycle and the %7 split are coprime), batch ≡ 0 mod 7,
    * over the synthetic blob corpus. Batch images are near-dups of
    * standing flat-gray images and are rejected; distinct-text
    * container blobs are admitted. Probabilistic near-dup semantics →
    * rows-only (MediaIndexSpec pins planted re-encoded-twin rejection,
    * trimmed-clip rejection, append-rebuild parity, and takedown →
    * re-admission).
    *
    * With `indexDir` set (REPL: `index build media <dir>`, then
    * `pipeline dedup_incremental_media indexDir=<dir>`) the batch
    * screens against THAT standing index — the takedown flow is
    * observable from SQL, as in [[TextIndex.dedupIncrementalNear]].
    * The default path builds the corpus index once per JVM and rolls
    * back its own append between calls (see [[gateIndex]]). */
  def dedupIncrementalMedia(s: SparkSession, d: String,
                            indexDir: String = ""): DataFrame = {
    val all = Multimodal.withBlobs(documents(s, d))
    val dir =
      if (indexDir.nonEmpty) {
        require(IndexFiles.hasIndex(s, indexDir),
          s"no media index at $indexDir — run `index build media` first")
        indexDir
      } else {
        val (t, snapshot) = gateIndex.computeIfAbsent(d, { _ =>
          val tmp = IndexFiles.tempDirDeletedOnExit("graft_mediaindex_gate")
          build(s, all.where(col("doc_id") % 7 =!= 0), tmp)
          (tmp, IndexFiles.read(s, tmp))
        })
        // roll back a previous call's append: restore the build
        // snapshot's live-file sets (the appended parquet stays on
        // disk as vacuum litter — never referenced by the manifest).
        // Under the writer lock like every other manifest writer —
        // gate calls are sequential today, but an unlocked commit
        // would be the one violation of the protocol's locking rule
        if (IndexFiles.currentVersion(s, t) > snapshot.version)
          IndexFiles.withWriterLock(s, t) {
            IndexFiles.commit(s, t)(m => m.copy(built = snapshot.built,
              data = snapshot.data, tombstones = snapshot.tombstones))
          }
        t
      }
    val (_, admittedSig) = ingestSigs(s, all.where(col("doc_id") % 7 === 0), dir)
    admittedSig
      .select(col("doc_id"), col("plane")).distinct()
      .orderBy(col("doc_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_incremental_media" -> ((s, d) => dedupIncrementalMedia(s, d))
  )

  val oracles: Map[String, String] = Map.empty
}
