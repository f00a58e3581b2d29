package graft.operators

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graft.GraftInternals

/** Manifest-pointer commit protocol shared by the two persisted-index
  * lifecycles ([[AnnIndex]] `cells/`, [[TextIndex]] `buckets/`).
  *
  * Round 7's rename-aside swap assumed atomic directory rename and
  * create-exclusive — true on HDFS/local, FALSE on the object stores
  * where 100 TB corpora actually live (S3 rename is per-object
  * copy+delete). This protocol removes the assumption by never moving
  * a data file at all:
  *
  *   - **Data files are immutable.** Every verb only ADDS files (plain
  *     append-mode parquet jobs); nothing is renamed or overwritten in
  *     steady state.
  *   - **The manifest is the index.** `<dir>/manifest/v{n}.txt` records
  *     the exact set of live data files and live tombstone files (plus
  *     the build generation its quantizer artifacts belong to). Readers
  *     resolve the highest committed version and scan exactly that file
  *     list — a file on disk but not in the manifest does not exist.
  *   - **Commit = publish one small file.** A writer stages the full
  *     next manifest to a hidden `.tmp-*` name, then renames it onto
  *     `v{n+1}.txt`. The primitive this needs from the store is
  *     atomic create-if-absent of a SINGLE object: HDFS gives it
  *     (rename fails when the destination exists — the FileSystem
  *     rename contract); S3 gives it natively via conditional writes
  *     (`If-None-Match`) — two racing committers serialize, the loser
  *     re-reads the winner's manifest and re-applies its transform
  *     ([[commit]]'s optimistic retry: exactly a conditional-PUT
  *     loop). On a RAW LOCAL FileSystem, rename is POSIX rename —
  *     it REPLACES an existing destination — so [[tryCommit]]'s
  *     exists-check + rename has a cross-process window there; it is
  *     closed IN-process because every committing verb (append /
  *     delete / compact / the gate rollback) runs under the writer
  *     lock, whose in-JVM layer is a real mutex (below). Local-FS
  *     multi-PROCESS writers are outside the supported matrix (the
  *     stores 100 TB corpora live on — HDFS, S3 — both give the
  *     atomic primitive).
  *
  * Crash table — every verb is "write invisible files, then one
  * atomic publish", so the enumeration is short (and spec-pinned,
  * IndexManifestSpec):
  *
  *   | crash point                     | state readers see | recovery |
  *   |---------------------------------|-------------------|----------|
  *   | mid data-file write             | old manifest      | [[vacuum]] deletes orphans |
  *   | after data write, before commit | old manifest      | [[vacuum]] deletes orphans |
  *   | mid manifest tmp write          | old manifest      | vacuum deletes `.tmp-*` |
  *   | after rename/publish            | new manifest      | none needed |
  *
  * No crash point needs heal-on-entry, and readers can never observe a
  * torn index — the round-7 `recoverRetired` dance (and its
  * reader-crashes-mid-swap window) is gone.
  *
  * Concurrency: writers additionally take an advisory `writer.lock`
  * (create-exclusive, bounded wait in [[withWriterLock]]) — not for
  * correctness (the conditional commit owns that) but for efficiency:
  * it serializes the physical-listing diff that captures a job's
  * written files, and it stops two compacts from duplicating a
  * rewrite. Because waiters BLOCK (bounded) instead of failing fast,
  * a streaming ingest's micro-batch survives a concurrent compact —
  * it waits out the lock and lands (StreamingSpec pins this). The
  * round-7 silently-resurrected-takedown hazard is structurally gone:
  * a tombstone lands in the manifest via the same conditional commit,
  * so a compact racing a delete can clear only the tombstone FILES it
  * actually folded — the loser's retry re-applies its change on top.
  */
private[operators] object IndexFiles {

  /** Manifest entry: live file, relative to its root (`cells/` or
    * `buckets/` for data, `tombstones/` for tombs), with its size —
    * sizes make byte-identity checks and fold targeting free. */
  case class Entry(rel: String, size: Long)

  /** A committed index snapshot. `built` is the build generation —
    * quantizer artifacts (centroids/meta/codebooks) are immutable
    * within a generation, which is what makes them JVM-cacheable. */
  case class Manifest(version: Long, built: String,
                      data: Vector[Entry], tombstones: Vector[Entry]) {
    def dataFiles: Vector[String] = data.map(_.rel)
    def tombFiles: Vector[String] = tombstones.map(_.rel)
  }

  val DefaultLockWaitMs = 120000L

  /** A local temp directory removed (recursively) at JVM exit — for
    * the once-per-JVM GATE index/catalog builds, whose dirs otherwise
    * accumulate across bench legs (a 12-run leg left 12 catalog trees
    * in /tmp — round-15 advice). One shutdown hook per dir; gates
    * create O(1) of these per JVM. */
  def tempDirDeletedOnExit(prefix: String): String = {
    val p = java.nio.file.Files.createTempDirectory(prefix)
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def del(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(del))
        f.delete(); ()
      }
      del(p.toFile)
    }))
    p.toString
  }

  def fsFor(s: SparkSession, p: Path): FileSystem =
    p.getFileSystem(s.sparkContext.hadoopConfiguration)

  private def manifestDir(dir: String) = new Path(s"$dir/manifest")

  private def versionPath(dir: String, v: Long) =
    new Path(manifestDir(dir), f"v$v%020d.txt")

  /** Highest committed manifest version, 0 when none exists. */
  def currentVersion(s: SparkSession, dir: String): Long = {
    val md = manifestDir(dir)
    val fs = fsFor(s, md)
    if (!fs.exists(md)) 0L
    else fs.listStatus(md).iterator.map(_.getPath.getName)
      .filter(n => n.startsWith("v") && n.endsWith(".txt"))
      .map(n => n.stripPrefix("v").stripSuffix(".txt").toLong)
      .foldLeft(0L)(math.max)
  }

  def hasIndex(s: SparkSession, dir: String): Boolean =
    currentVersion(s, dir) > 0L

  // ---- serialization (line-oriented; no parquet part name contains
  // whitespace or newlines, so no escaping is needed) ----------------

  private def serialize(m: Manifest): Array[Byte] = {
    val sb = new StringBuilder
    sb.append("graft-index-manifest 1\n")
    sb.append(s"built ${m.built}\n")
    m.data.foreach(e => sb.append(s"data ${e.size} ${e.rel}\n"))
    m.tombstones.foreach(e => sb.append(s"tomb ${e.size} ${e.rel}\n"))
    sb.toString.getBytes(StandardCharsets.UTF_8)
  }

  private def parse(version: Long, bytes: Array[Byte]): Manifest = {
    val lines = new String(bytes, StandardCharsets.UTF_8).linesIterator.toVector
    require(lines.headOption.exists(_.startsWith("graft-index-manifest ")),
      "corrupt index manifest: bad header")
    var built = ""
    val data = Vector.newBuilder[Entry]
    val tombs = Vector.newBuilder[Entry]
    lines.drop(1).foreach { l =>
      val parts = l.split(" ", 3)
      parts(0) match {
        case "built" => built = parts(1)
        case "data"  => data += Entry(parts(2), parts(1).toLong)
        case "tomb"  => tombs += Entry(parts(2), parts(1).toLong)
        case other => throw new IllegalStateException(
          s"corrupt index manifest: unknown record '$other'")
      }
    }
    Manifest(version, built, data.result(), tombs.result())
  }

  /** Read the current committed snapshot. Loud when no manifest exists
    * — an unbuilt (or mid-rebuild-crashed) index is an error surface,
    * not an empty result. */
  def read(s: SparkSession, dir: String): Manifest = {
    val v = currentVersion(s, dir)
    require(v > 0L, s"no index manifest under $dir/manifest — " +
      "the index has not been built (or a rebuild crashed before its " +
      "first commit; rebuild it)")
    val p = versionPath(dir, v)
    val fs = fsFor(s, p)
    val in = fs.open(p)
    try parse(v, in.readAllBytes()) finally in.close()
  }

  /** Read a SPECIFIC committed manifest version — the time-travel
    * read ([[graft.operators.TableStore.asof]]). Loud when the version
    * was never committed or has been vacuumed past the retention
    * window: serving silently-latest data for an as-of query would be
    * the worst possible failure mode. */
  def readVersion(s: SparkSession, dir: String, v: Long): Manifest = {
    val p = versionPath(dir, v)
    val fs = fsFor(s, p)
    require(fs.exists(p),
      s"no manifest version $v under $dir/manifest — never committed, " +
        "or vacuumed past the retention window (vacuumRetain keeps " +
        "only the trailing versions)")
    val in = fs.open(p)
    try parse(v, in.readAllBytes()) finally in.close()
  }

  /** Time-travel-aware vacuum: keep the trailing `retain` manifest
    * versions AND every data file any kept manifest references;
    * delete older manifests and data files only THEY referenced. The
    * [[TableStore]] form of [[vacuum]] (which keeps only the latest
    * version — correct for indexes, fatal for versioned snapshots).
    * Returns files deleted. */
  def vacuumRetain(s: SparkSession, dir: String, sub: String,
                   retain: Int): Long =
    withWriterLock(s, dir) {
      require(retain >= 1, s"retain must be >= 1, got $retain")
      val md = manifestDir(dir)
      val fs = fsFor(s, md)
      val versions =
        if (!fs.exists(md)) Vector.empty[Long]
        else fs.listStatus(md).iterator.map(_.getPath.getName)
          .filter(n => n.startsWith("v") && n.endsWith(".txt"))
          .map(_.stripPrefix("v").stripSuffix(".txt").toLong)
          .toVector.sorted
      if (versions.isEmpty) return 0L
      val kept = versions.takeRight(retain)
      val live = kept.flatMap(v => readVersion(s, dir, v).dataFiles).toSet
      var deleted = 0L
      val root = new Path(s"$dir/$sub")
      val dfs = fsFor(s, root)
      if (dfs.exists(root)) {
        val rootUri = dfs.makeQualified(root).toUri.getPath
        val it = dfs.listFiles(root, true)
        val doomed = Vector.newBuilder[Path]
        while (it.hasNext) {
          val st = it.next()
          val rel =
            st.getPath.toUri.getPath.stripPrefix(rootUri).stripPrefix("/")
          if (st.getPath.getName.endsWith(".parquet") && !live(rel))
            doomed += st.getPath
        }
        doomed.result().foreach { p => dfs.delete(p, false); deleted += 1 }
      }
      versions.dropRight(retain).foreach { v =>
        fs.delete(versionPath(dir, v), false); deleted += 1
      }
      deleted
    }

  /** Publish `m` as version `m.version` iff that version does not
    * exist yet — the conditional put. Stage-then-rename: the staged
    * `.tmp-*` write is invisible to [[currentVersion]]; the rename is
    * the atomic publish and FAILS if a concurrent committer won. */
  def tryCommit(s: SparkSession, dir: String, m: Manifest): Boolean = {
    val target = versionPath(dir, m.version)
    val fs = fsFor(s, target)
    val tmp = new Path(manifestDir(dir),
      s".tmp-${java.util.UUID.randomUUID().toString.take(12)}")
    val out = fs.create(tmp, false)
    try { out.write(serialize(m)) } finally out.close()
    if (fs.exists(target)) { fs.delete(tmp, false); false }
    else {
      val ok = fs.rename(tmp, target)
      if (!ok) fs.delete(tmp, false)
      ok
    }
  }

  /** Optimistic commit: apply `transform` to the CURRENT snapshot and
    * conditionally publish as the next version; on a lost race,
    * re-read and re-apply. `transform` must therefore be safe to
    * re-run against a newer base — pure add-files transforms always
    * are; compact's swap transform validates its read-set and throws
    * when a concurrent compact already swapped it. */
  def commit(s: SparkSession, dir: String)
            (transform: Manifest => Manifest): Manifest = {
    var attempts = 0
    while (attempts < 50) {
      val base = read(s, dir)
      val next = transform(base).copy(version = base.version + 1)
      if (tryCommit(s, dir, next)) return next
      attempts += 1
      Thread.sleep(20L * math.min(attempts, 10))
    }
    throw new IllegalStateException(
      s"manifest commit on $dir lost ${50} straight races — " +
        "is something repeatedly committing to this index?")
  }

  // ---- writer lock --------------------------------------------------

  private def lockPath(dir: String) = new Path(s"$dir/writer.lock")

  /** Per-directory PROCESS-LOCAL mutexes in front of the FS lock.
    * Load-bearing, not an optimization: two writers in one JVM (a
    * streaming ingest batch racing a compact thread, the spec's
    * concurrent appends) would otherwise BOTH pass
    * `fs.createNewFile` on a local FileSystem — Hadoop's
    * RawLocalFileSystem implements it as check-then-create, NOT
    * atomically — then share the output path's `_temporary/0`
    * staging dir and double-adopt each other's files in the
    * listing diff. HDFS gives createNewFile real create-exclusive
    * semantics, so CROSS-process exclusivity holds there (and on
    * stores with conditional PUT); in-process exclusivity must come
    * from here on every FS. Keyed by the dir string — two writers
    * must name an index by the same path, the same contract the
    * manifest itself has. */
  private val jvmWriterLocks =
    new java.util.concurrent.ConcurrentHashMap[String,
      java.util.concurrent.locks.ReentrantLock]()

  /** Run `body` holding the writer lock, WAITING (bounded) for a
    * holder to finish rather than failing fast — a streaming ingest
    * batch that lands during a compact blocks for the compact's
    * duration and then proceeds (StreamingSpec). Two layers: the
    * per-dir JVM mutex (see [[jvmWriterLocks]] — local-FS
    * createNewFile is not atomic in-process), then the FS lock file
    * for cross-process writers. A lock file left by a crashed writer
    * blocks waiters until removed; the timeout message says so.
    * Crashed writers leave NO inconsistency (their uncommitted files
    * are invisible), so removing a stale lock is always safe. */
  def withWriterLock[T](s: SparkSession, dir: String,
                        waitMs: Long = DefaultLockWaitMs)(body: => T): T = {
    val jl = jvmWriterLocks.computeIfAbsent(dir,
      _ => new java.util.concurrent.locks.ReentrantLock())
    require(jl.tryLock(waitMs, java.util.concurrent.TimeUnit.MILLISECONDS),
      s"could not acquire the in-process writer lock for $dir after " +
        s"$waitMs ms — another writer (append/delete/compact) in this " +
        "JVM is running long")
    try {
      val lock = lockPath(dir)
      val fs = fsFor(s, lock)
      fs.mkdirs(new Path(dir))
      val deadline = System.nanoTime() + waitMs * 1000000L
      var acquired = fs.createNewFile(lock)
      while (!acquired && System.nanoTime() < deadline) {
        Thread.sleep(100)
        acquired = fs.createNewFile(lock)
      }
      require(acquired,
        s"could not acquire $lock after ${waitMs} ms — another writer " +
          "(append/delete/compact) is running long, or a crashed writer " +
          "left the lock behind (safe to remove: uncommitted work is " +
          "invisible to the manifest)")
      try body finally fs.delete(lock, false)
    } finally jl.unlock()
  }

  // ---- file listing / resolution ------------------------------------

  /** All parquet files under `root`, as root-relative [[Entry]]s.
    * Hidden files/dirs (`_temporary`, `.tmp-*`, `_SUCCESS`) never
    * match the `.parquet` suffix filter or are skipped by name. */
  def listParquet(fs: FileSystem, root: Path): Vector[Entry] = {
    if (!fs.exists(root)) return Vector.empty
    val rootUri = fs.makeQualified(root).toUri.getPath
    val it = fs.listFiles(root, true)
    val out = Vector.newBuilder[Entry]
    while (it.hasNext) {
      val st = it.next()
      val name = st.getPath.getName
      if (name.endsWith(".parquet") && !name.startsWith(".") &&
          !name.startsWith("_")) {
        val p = st.getPath.toUri.getPath
        require(p.startsWith(rootUri), s"listed file $p outside root $rootUri")
        out += Entry(p.stripPrefix(rootUri).stripPrefix("/"), st.getLen)
      }
    }
    out.result().sortBy(_.rel)
  }

  def countParquetFiles(fs: FileSystem, dir: Path): Long =
    listParquet(fs, dir).size.toLong

  /** DataFrame over exactly the manifest's live data files. It is
    * built from the manifest alone — the entries' paths and sizes
    * stand in for a listing and the first file's footer gives the
    * schema ([[GraftInternals.parquetFiles]]) — so it neither lists
    * nor infers: constructing it starts no Spark job. `basePath` keeps
    * partition-column inference (and therefore PartitionFilters
    * pruning) identical to a whole-directory scan — the scan opens
    * ONLY live files, so replaced-but-not-yet-vacuumed litter is
    * invisible. None when the live set is empty. */
  def dataFrame(s: SparkSession, dir: String, sub: String,
                m: Manifest): Option[DataFrame] =
    scan(s, s"$dir/$sub", m.data)

  /** The live tombstone-id list (normalized to `idCol`), None when no
    * delete is outstanding. Built like [[dataFrame]]: no job. */
  def tombstoneIds(s: SparkSession, dir: String, m: Manifest,
                   idCol: String): Option[DataFrame] =
    scan(s, s"$dir/tombstones", m.tombstones).map(_.select(col(idCol)))

  private def scan(s: SparkSession, root: String,
                   entries: Vector[Entry]): Option[DataFrame] =
    if (entries.isEmpty) None
    else Some(GraftInternals.parquetFiles(s, root,
      entries.map(e => (s"$root/${e.rel}", e.size))))

  /** Drop tombstoned ids from `df` — no-op (and no plan change) when
    * no delete is outstanding. No broadcast hint: the list is a
    * parquet read with known stats, so Catalyst auto-broadcasts tiny
    * takedowns and falls back to a shuffled anti join for a bulk
    * recrawl diff — a forced hint would OOM exactly there. */
  def dropTombstoned(s: SparkSession, dir: String, m: Manifest,
                     df: DataFrame, idCol: String): DataFrame =
    tombstoneIds(s, dir, m, idCol)
      .map(t => df.join(t, Seq(idCol), "left_anti")).getOrElse(df)

  // ---- writer verbs (shared mechanics) ------------------------------

  /** Run `write` (an append-mode parquet job into `<dir>/<sub>`),
    * capture exactly the files it produced (physical listing diff —
    * exact under the writer lock), and commit them into the manifest
    * via `fold`. The diff is against the PHYSICAL listing, not the
    * manifest: orphans from a crashed writer must not be adopted into
    * the live set (a torn batch would resurrect). */
  private def writeAndCommit(s: SparkSession, dir: String, sub: String,
                             write: => Unit)
                            (fold: (Manifest, Vector[Entry]) => Manifest): Unit =
    withWriterLock(s, dir) {
      val root = new Path(s"$dir/$sub")
      val fs = fsFor(s, root)
      val before = listParquet(fs, root).map(_.rel).toSet
      write
      val added = listParquet(fs, root).filterNot(e => before(e.rel))
      if (added.nonEmpty) { commit(s, dir)(m => fold(m, added)); () }
    }

  /** Append freshly written data files into the live set. */
  def commitDataAppend(s: SparkSession, dir: String, sub: String)
                      (write: => Unit): Unit =
    writeAndCommit(s, dir, sub, write)((m, added) =>
      m.copy(data = m.data ++ added))

  /** Append a takedown list (first column cast to long, normalized to
    * `idCol`) and commit it as live tombstone files. Waits out (not
    * fails under) a concurrent compact; the conditional commit
    * guarantees the compact can only clear tombstone FILES it actually
    * folded, so a takedown can never silently resurrect. */
  def appendTombstones(s: SparkSession, dir: String, ids: DataFrame,
                       idCol: String): Unit =
    writeAndCommit(s, dir, "tombstones",
      ids.select(col(ids.columns.head).cast("long").as(idCol))
        .write.mode("append").parquet(s"$dir/tombstones"))(
      (m, added) => m.copy(tombstones = m.tombstones ++ added))

  /** Destructive (re)build bootstrap: clear every prior generation —
    * manifest, tombstones, data, quantizer litter — run `write` (an
    * overwrite-mode job), and commit version 1 of a NEW build
    * generation. Clearing tombstones here is load-bearing: a rebuild
    * re-admits ids deleted in the prior generation (the
    * re-ingest-after-takedown flow), so stale tombstones must not
    * survive into the new one. Readers racing a rebuild fail loudly
    * (no manifest) — production deployments rebuild into a fresh dir;
    * in-place rebuild is the bootstrap/test path.
    *
    * `gen` labels the new build generation (default: a fresh UUID) —
    * an index whose on-disk SEMANTICS are versioned (MediaIndex's
    * signature scheme) prefixes it so readers can refuse a
    * wrong-scheme index loudly. */
  def commitRebuild(s: SparkSession, dir: String, sub: String,
                    gen: String = java.util.UUID.randomUUID().toString)
                   (write: => Unit): Unit =
    withWriterLock(s, dir) {
      val root = new Path(s"$dir/$sub")
      val fs = fsFor(s, root)
      fs.delete(manifestDir(dir), true)
      fs.delete(new Path(s"$dir/tombstones"), true)
      write
      val files = listParquet(fs, root)
      require(files.nonEmpty, s"index build under $dir wrote no data files")
      val ok = tryCommit(s, dir, Manifest(1L, gen, files, Vector.empty))
      require(ok, s"rebuild of $dir raced another rebuild's first commit")
    }

  /** Delete physical files no manifest references: data/tombstone
    * parquet replaced by a compact (or orphaned by a crashed writer),
    * stale `.tmp-*` manifests, and all superseded manifest versions.
    * `graceMs` protects files younger than the grace window — an
    * in-flight reader plans from a manifest it resolved up to one
    * query-duration ago, so production runs vacuum with grace >
    * max query duration (the verb every snapshot store ships:
    * Delta/Iceberg expire+vacuum). Returns the number of files
    * deleted. */
  def vacuum(s: SparkSession, dir: String, sub: String,
             graceMs: Long = 0L): Long =
    withWriterLock(s, dir) {
      val m = read(s, dir)
      val cutoff = System.currentTimeMillis() - graceMs
      var deleted = 0L
      def sweep(root: Path, live: Set[String]): Unit = {
        val fs = fsFor(s, root)
        if (!fs.exists(root)) return
        val rootUri = fs.makeQualified(root).toUri.getPath
        val it = fs.listFiles(root, true)
        val doomed = Vector.newBuilder[Path]
        while (it.hasNext) {
          val st = it.next()
          val rel = st.getPath.toUri.getPath.stripPrefix(rootUri).stripPrefix("/")
          if (st.getPath.getName.endsWith(".parquet") && !live(rel) &&
              st.getModificationTime < cutoff)
            doomed += st.getPath
        }
        doomed.result().foreach { p => fs.delete(p, false); deleted += 1 }
      }
      sweep(new Path(s"$dir/$sub"), m.dataFiles.toSet)
      sweep(new Path(s"$dir/tombstones"), m.tombFiles.toSet)
      val md = manifestDir(dir)
      val fs = fsFor(s, md)
      fs.listStatus(md).foreach { st =>
        val n = st.getPath.getName
        val stale =
          (n.startsWith(".tmp-") && st.getModificationTime < cutoff) ||
            (n.startsWith("v") && n.endsWith(".txt") &&
              n.stripPrefix("v").stripSuffix(".txt").toLong < m.version)
        if (stale) { fs.delete(st.getPath, false); deleted += 1 }
      }
      deleted
    }

  // ---- targeted-compact support -------------------------------------

  /** When the outstanding takedown list is small enough to collect,
    * pushing it down as an `isin` lets parquet row-group statistics
    * prune — finding the dirty files is then footer-bound (metadata
    * per file), not byte-bound. */
  val MaxPushdownIds = 10000L

  /** The live data files that physically CONTAIN a tombstoned id —
    * exactly the files a compact must rewrite to fold the takedown.
    * Small takedowns push the id list into the scan (row-group stats
    * prune; cost ≈ one footer per live file); bulk takedowns fall
    * back to a join over the single id column (still reads one thin
    * column, never the payload). Empty when no delete is
    * outstanding. */
  def filesWithTombstonedRows(s: SparkSession, dir: String, sub: String,
                              m: Manifest, idCol: String): Set[String] = {
    import org.apache.spark.sql.functions.input_file_name
    val tombs = tombstoneIds(s, dir, m, idCol).toList
    if (tombs.isEmpty || m.data.isEmpty) return Set.empty
    val tomb = tombs.head
    val data = dataFrame(s, dir, sub, m).get
      .select(col(idCol), input_file_name().as("_file"))
    // one job: at most MaxPushdownIds + 1 distinct ids come back, and
    // hitting the limit means the list is too long to push down
    val ids = tomb.distinct().limit((MaxPushdownIds + 1).toInt).collect()
    val hits =
      if (ids.isEmpty) return Set.empty
      else if (ids.length <= MaxPushdownIds)
        data.where(col(idCol).isin(ids.map(_.getLong(0)).toIndexedSeq: _*))
      else data.join(tomb, Seq(idCol), "left_semi")
    val rootUri = {
      val root = new Path(s"$dir/$sub")
      fsFor(s, root).makeQualified(root).toUri.getPath
    }
    hits.select("_file").distinct().collect().map { r =>
      val p = new Path(r.getString(0)).toUri.getPath
      require(p.startsWith(rootUri), s"dirty file $p outside $rootUri")
      p.stripPrefix(rootUri).stripPrefix("/")
    }.toSet
  }

  /** Swap-commit for a targeted compact: replace exactly `rewritten`
    * with `added` and drop the tombstone files that were folded. The
    * transform re-validates against the CURRENT manifest on every
    * retry — if a concurrent compact already swapped any of this
    * read-set, committing would double-add the fold output, so it
    * throws instead (the staged files stay invisible; vacuum sweeps
    * them). */
  def commitCompactSwap(s: SparkSession, dir: String,
                        rewritten: Set[String], added: Vector[Entry],
                        foldedTombs: Set[String]): Manifest =
    commit(s, dir) { cur =>
      val live = cur.dataFiles.toSet
      require(rewritten.subsetOf(live),
        "concurrent compact detected: this compact's inputs are no " +
          "longer live — its output is abandoned (vacuum sweeps it)")
      cur.copy(
        data = cur.data.filterNot(e => rewritten(e.rel)) ++ added,
        tombstones = cur.tombstones.filterNot(e => foldedTombs(e.rel)))
    }
}
