package graft.operators

import graft.sources.Taps
import org.apache.hadoop.fs.{FileContext, FileSystem, Options, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dataset lifecycle at rest: small-file compaction, write-audit-publish,
  * and retention — the maintenance operations a corpus that is WRITTEN
  * continuously (recrawl deltas, annotation passes, dedup rewrites)
  * needs beside the query operators.
  *
  * Everything speaks the Hadoop FileSystem API, so "directory" means the
  * same thing it does on a cluster. Readers are unlimited.
  *
  * == Storage contract (object-store safe) ==
  * NOTHING below depends on an atomic directory rename. The commit
  * point of every protocol is the creation of ONE small file — a
  * single-key PUT, atomic on posix, HDFS, and S3-class stores alike:
  *  - versioned roots ([[publish]]): `v{n}/_COMMITTED` commits. The
  *    staging→final rename MAY be a non-atomic copy+delete (S3): a
  *    crash mid-copy leaves a partial `v{n}` with no marker, which
  *    readers never resolve and the re-run replaces wholesale. The
  *    `_LATEST` pointer is an ADVISORY CACHE: [[currentVersion]]
  *    resolves the newest marker-committed version from one shallow
  *    listing, so a stale, torn, or missing pointer can only ever cost
  *    a few metadata calls — never serve a torn version. (Legacy roots
  *    written before markers existed resolve through the pointer: a
  *    pointer naming a marker-less but present dir is honored.)
  *  - batch roots ([[publishBatch]]): `batch={id}/_COMMITTED` commits
  *    durability; the `_MANIFEST` rewrite commits visibility. The
  *    manifest is healed from the markers on the next commit, so a
  *    crash between marker and manifest loses no data — it delays
  *    visibility by one batch.
  *
  * == Concurrency ==
  * [[publish]] and [[foldBatches]] take a writer lease (`_LOCK`, token
  * + TTL): a second driver publishing or folding the same root
  * concurrently fails loudly instead of racing the version check; a
  * crashed holder's lease expires after [[LeaseTtlMs]]. Acquisition is
  * create-exclusive where the store supports it (posix, HDFS) with a
  * fencing read-back for stores that don't — a lost race is detected,
  * never silently won by both. [[publishBatch]] deliberately does NOT
  * take the lease: per-batch commits are serialized by the single
  * streaming query that drives them (foreachBatch), and a fold running
  * concurrently with batch commits is safe, by two explicit guards
  * (not mere construction — the manifest is an unlocked file two
  * writers can race on): (1) the fold's manifest swap is VERIFIED and
  * re-written until it sticks, folding in batches committed meanwhile,
  * because a concurrent heal's read-modify-write can clobber the swap
  * and regress `foldedVersion`; (2) [[expireBatches]] never expires
  * the version the manifest still references, so even a swap lost past
  * the retries (or a fold crashed between its marker commit and the
  * swap) strands an orphan v-dir — never a dangling manifest. A batch
  * committed mid-fold keeps its marker either way and the next heal
  * makes it visible again; expiry only ever deletes ids at or below
  * `foldedThrough`.
  *
  * At 100 TB:
  *  - [[compact]] is one distributed read→exchange→write per run; the
  *    file listing is driver-side METADATA (names + lengths only, no
  *    data), and the output file count is sized from measured input
  *    bytes, not guessed. Range mode keeps a sort key clustered so
  *    min/max footer pruning survives the rewrite. The rewrite stages
  *    under a sibling `_tmp` dir and promotes by rename — a mid-job
  *    failure never leaves a half-written output dir.
  *  - [[publish]] stages the full write OFF the serving path, audits the
  *    staged files themselves (constraints run on what readers would
  *    see, not on the DataFrame that produced it), and promotes by one
  *    rename + one marker PUT + one pointer refresh — readers never
  *    observe a half-written version, and a failed audit leaves the
  *    previous version serving.
  *  - [[foldBatches]] + [[expireBatches]] bound a streaming root: without
  *    them a long-running [[publishBatch]] root accumulates `batch=N`
  *    dirs forever. Folding re-publishes the committed union as one
  *    versioned dataset (reusing [[publish]]'s stage/audit/commit), and
  *    expiry deletes the folded dirs; `_MANIFEST` makes committed-batch
  *    discovery ONE file read instead of an O(dirs) recursive listing —
  *    the difference between a constant and a full prefix scan on an
  *    object store.
  */
object Publish {

  final case class CompactReport(
      filesIn: Long, bytesIn: Long, filesOut: Long, bytesOut: Long)

  final case class PublishReport(
      version: Long, published: Boolean, rows: Long,
      violations: Seq[(String, Long)]) {
    def violationsOrEmpty: String =
      violations.map { case (n, v) => s"$n=$v" }.mkString(",")
  }

  /** Outcome of [[foldBatches]]: the version now serving the fold, the
    * highest batch id it covers, and the batch ids it absorbed. */
  final case class FoldReport(
      version: Long, foldedThrough: Long, batchesFolded: Seq[Long],
      rows: Long, published: Boolean, violations: Seq[(String, Long)])

  /** Commit record of a [[publishBatch]] root: `foldedVersion` is the
    * `v{n}` dir holding every batch with id <= `foldedThrough`
    * (None/-1 before the first fold); `batches` are the committed,
    * not-yet-folded batch ids. */
  final case class BatchManifest(
      foldedVersion: Option[Long], foldedThrough: Long, batches: Seq[Long])

  private def fs(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Test-only crash injection: invoked with a label at each commit-
    * protocol step boundary; PublishSpec's crash matrix throws from it
    * to simulate a failure exactly there. No-op in production. */
  private[graft] val noHook: String => Unit = _ => ()

  /** Observability: recursive-listing call count ([[dataFiles]]) —
    * PublishSpec (and BASELINE.md "PublishProbe") use it to show fold
    * sizing reads manifest-recorded sizes, not O(batches) listings.
    * Thread-local: every dataFiles call runs on its caller's (driver)
    * thread, so a test's count can't be polluted by concurrently-running
    * suites. */
  private[graft] val listingCalls: ThreadLocal[java.lang.Long] =
    ThreadLocal.withInitial(() => java.lang.Long.valueOf(0L))

  /** Atomic overwriting rename: `dst` is replaced in one step, so a
    * concurrent reader sees the old file or the new one, never a
    * missing/torn one. Local paths go through NIO's ATOMIC_MOVE (the
    * Hadoop local FS emulates overwrite by delete-then-rename, which is
    * exactly the torn window this exists to close); everything else
    * uses FileContext.rename(OVERWRITE), which is atomic on HDFS. */
  private def atomicOverwrite(spark: SparkSession, src: Path, dst: Path): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val f = src.getFileSystem(conf)
    if (f.getScheme == "file") {
      import java.nio.file.{Files, Paths, StandardCopyOption}
      Files.move(
        Paths.get(f.makeQualified(src).toUri.getPath),
        Paths.get(f.makeQualified(dst).toUri.getPath),
        StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING): Unit
    } else {
      FileContext.getFileContext(f.getUri, conf)
        .rename(src, dst, Options.Rename.OVERWRITE)
    }
  }

  /** Write `content` at `dst` atomically (tmp file + overwriting rename). */
  private def atomicWrite(spark: SparkSession, dst: Path, content: String): Unit = {
    val f = dst.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new Path(dst.getParent, s".${dst.getName}.tmp")
    val out = f.create(tmp, true)
    try out.write(content.getBytes("UTF-8")) finally out.close()
    atomicOverwrite(spark, tmp, dst)
  }

  private def readSmallFile(f: FileSystem, p: Path): String = {
    val in = f.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
  }

  /** Data files under `dir` (recursive), ignoring underscore/dot-prefixed
    * metadata (_SUCCESS, _MANIFEST, .crc) — the same visibility rule
    * Spark's readers apply. */
  def dataFiles(spark: SparkSession, dir: String): Seq[(String, Long)] = {
    listingCalls.set(listingCalls.get + 1L)
    val f = fs(spark, dir)
    val it = f.listFiles(new Path(dir), true)
    val out = Seq.newBuilder[(String, Long)]
    while (it.hasNext) {
      val st = it.next()
      val n = st.getPath.getName
      if (st.isFile && !n.startsWith("_") && !n.startsWith("."))
        out += ((st.getPath.toString, st.getLen))
    }
    out.result()
  }

  /** True when `child` equals or sits under `ancestor` (both qualified). */
  private def sameOrUnder(ancestor: Path, child: Path): Boolean = {
    var p: Path = child
    while (p != null) {
      if (p == ancestor) return true
      p = p.getParent
    }
    false
  }

  /** Rewrite the parquet dataset at `inDir` into ceil(bytes/target)
    * files at `outDir`. With `sortCols`, rows range-partition + sort on
    * the key (compaction preserves clustering, so footer min/max pruning
    * on that key keeps working); without, round-robin (uniform file
    * sizes, no skew exposure). Returns measured in/out listings. The
    * rewrite is one job: size estimation reads NO data, only the
    * listing. The output stages under a sibling `_tmp_compact_*` dir and
    * promotes by rename, so a mid-job failure leaves `outDir` untouched
    * (or absent) — never half-written; `outDir` must not overlap
    * `inDir` in either direction (an in-place rewrite would read and
    * delete the same files). */
  def compact(spark: SparkSession, inDir: String, outDir: String,
      targetBytes: Long, sortCols: Seq[String] = Nil): CompactReport = {
    require(targetBytes > 0, s"targetBytes must be positive, got $targetBytes")
    val f = fs(spark, outDir)
    val inQ = f.makeQualified(new Path(inDir))
    val outQ = f.makeQualified(new Path(outDir))
    require(!sameOrUnder(inQ, outQ) && !sameOrUnder(outQ, inQ),
      s"compact: outDir $outQ overlaps inDir $inQ — an in-place rewrite would corrupt the input")
    val in = dataFiles(spark, inDir)
    require(in.nonEmpty, s"compact: no data files under $inDir")
    val bytesIn = in.map(_._2).sum
    val nOut = math.max(1L, (bytesIn + targetBytes - 1) / targetBytes).toInt
    val df = Taps.parquet(spark, inDir)
    val shaped =
      if (sortCols.isEmpty) df.repartition(nOut)
      else df.repartitionByRange(nOut, sortCols.map(col): _*)
        .sortWithinPartitions(sortCols.map(col): _*)
    val staging = new Path(outQ.getParent, s"_tmp_compact_${outQ.getName}")
    if (f.exists(staging)) f.delete(staging, true)
    shaped.write.mode("error").parquet(staging.toString)
    if (f.exists(outQ)) f.delete(outQ, true)
    require(f.rename(staging, outQ), s"rename $staging -> $outQ failed")
    val out = dataFiles(spark, outDir)
    CompactReport(in.size, bytesIn, out.size, out.map(_._2).sum)
  }

  private def pointer(root: String) = new Path(root, "_LATEST")

  private def versionMarker(root: String, v: Long) =
    new Path(root, s"v$v/_COMMITTED")

  /** v-dir version numbers under `root` (one shallow listing). */
  private def versionDirs(f: FileSystem, root: String): Seq[Long] = {
    val rootPath = new Path(root)
    if (!f.exists(rootPath)) Nil
    else f.listStatus(rootPath).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.matches("v\\d+"))
      .map(_.getPath.getName.drop(1).toLong).sorted
  }

  /** The advisory pointer's value, or None when missing/unreadable —
    * a torn pointer (non-atomic store) must degrade to the marker
    * scan, not throw at the reader. */
  private def pointerValue(f: FileSystem, root: String): Option[Long] = {
    val p = pointer(root)
    if (!f.exists(p)) None
    else scala.util.Try(readSmallFile(f, p).trim.toLong).toOption
  }

  /** Highest COMMITTED version (None before the first publish): the
    * newest v-dir whose `_COMMITTED` marker exists, or — legacy roots
    * written before markers — the pointer's target if that dir exists.
    * Cost: one pointer read + one shallow listing + one marker check
    * per retained version (bounded by [[expireVersions]] retention);
    * the `_LATEST` pointer is advisory, so a stale or torn pointer can
    * never serve a half-copied version NOR hide a committed one. */
  def currentVersion(spark: SparkSession, root: String): Option[Long] = {
    val f = fs(spark, root)
    val ptr = pointerValue(f, root)
    val dirs = versionDirs(f, root)
    val committed = dirs.filter(v =>
      ptr.contains(v) || f.exists(versionMarker(root, v)))
    committed.maxOption
  }

  /** Rewrite the advisory pointer from the authoritative marker state —
    * run after a crash between marker and pointer refresh if the
    * convenience of an exact `_LATEST` matters before the next publish
    * (readers are already correct without it). */
  def healPointer(spark: SparkSession, root: String): Option[Long] = {
    val v = currentVersion(spark, root)
    v.foreach(n => atomicWrite(spark, pointer(root), n.toString))
    v
  }

  /** The currently-published dataset. Throws if nothing has been
    * published — "no version yet" must not read as "empty corpus". */
  def current(spark: SparkSession, root: String): DataFrame = {
    val v = currentVersion(spark, root).getOrElse(
      sys.error(s"publish root $root has no published version"))
    Taps.parquet(spark, s"$root/v$v")
  }

  // ---- writer lease -------------------------------------------------

  /** How long a crashed writer's `_LOCK` blocks the root before another
    * writer may take it over. Generous on purpose: a takeover during a
    * LIVE publish is the one thing the lease exists to prevent, so the
    * TTL must exceed any plausible stage+audit+promote duration. */
  val LeaseTtlMs: Long = 15 * 60 * 1000L

  private def lockFile(root: String) = new Path(root, "_LOCK")

  /** Acquire the writer lease on `root` or fail loudly. Returns the
    * fencing token [[releaseLease]] needs. Create-exclusive where the
    * store has it; the read-back makes a racer that slipped through a
    * non-exclusive create detect the loss instead of proceeding. */
  private def acquireLease(f: FileSystem, root: String): String = {
    val token = java.util.UUID.randomUUID().toString
    val lock = lockFile(root)
    val now = System.currentTimeMillis()
    val content = s"$token ${now + LeaseTtlMs}"
    def tryCreate(): Boolean =
      try {
        if (f.getScheme == "file") {
          // Hadoop's local FS emulates create(overwrite=false) with an
          // exists-check + create — a TOCTOU window two racing drivers
          // can both slip through. NIO CREATE_NEW is an atomic O_EXCL.
          f.mkdirs(new Path(root)): Unit
          java.nio.file.Files.write(
            java.nio.file.Paths.get(f.makeQualified(lock).toUri.getPath),
            content.getBytes("UTF-8"),
            java.nio.file.StandardOpenOption.CREATE_NEW,
            java.nio.file.StandardOpenOption.WRITE): Unit
        } else {
          val out = f.create(lock, false) // overwrite=false: create-exclusive
          try out.write(content.getBytes("UTF-8")) finally out.close()
        }
        true
      } catch { case _: java.io.IOException => false }
    if (!tryCreate()) {
      val content =
        try readSmallFile(f, lock) catch { case _: java.io.IOException => "" }
      val expiry = content.split(" ").lift(1).flatMap(_.toLongOption).getOrElse(0L)
      if (now <= expiry) sys.error(
        s"another writer holds the lease on $root (expires in ${expiry - now} ms); " +
          "publish/foldBatches are single-writer per root")
      // expired: a crashed holder's debris — take over. The takeover is
      // FENCED by an atomic rename to a unique tombstone: rename fails
      // when the source is already gone, so exactly one racer wins the
      // takeover; a plain delete+create here let two racers interleave
      // (B's delete removing A's freshly-created lock after A's
      // read-back passed) so that BOTH proceeded holding the lease.
      val tombstone = new Path(root, s"_LOCK.expired.$token")
      val won =
        try f.rename(lock, tombstone) catch { case _: java.io.IOException => false }
      if (!won) sys.error(
        s"lost the expired-lease takeover race on $root to a concurrent writer; retry")
      f.delete(tombstone, false): Unit // content is dead; best-effort tidy
      if (!tryCreate()) sys.error(
        s"lease on $root contended during expired-lease takeover; retry")
    }
    val back =
      try readSmallFile(f, lock) catch { case _: java.io.IOException => "" }
    if (!back.startsWith(token))
      sys.error(s"lost the writer-lease race on $root to a concurrent writer")
    token
  }

  /** Release only a lease we still hold (fencing: a TTL takeover by
    * someone else must not be deleted by the dead holder's finally). */
  private def releaseLease(f: FileSystem, root: String, token: String): Unit =
    try {
      val content =
        try readSmallFile(f, lockFile(root)) catch { case _: java.io.IOException => "" }
      if (content.startsWith(token)) f.delete(lockFile(root), false): Unit
    } catch { case _: Throwable => () } // best-effort; the TTL expires it

  private def withLease[A](f: FileSystem, root: String)(body: => A): A = {
    val token = acquireLease(f, root)
    try body finally releaseLease(f, root, token)
  }

  private def manifestPath(root: String) = new Path(root, "_MANIFEST")

  /** The commit record of a [[publishBatch]] root — one file read. None
    * for a root never written through the manifest protocol (legacy
    * roots fall back to the marker listing in [[readCommitted]]). */
  def readManifest(spark: SparkSession, root: String): Option[BatchManifest] = {
    val f = fs(spark, root)
    val p = manifestPath(root)
    if (!f.exists(p)) None
    else {
      val lines = readSmallFile(f, p).linesIterator.map(_.trim)
        .filter(_.nonEmpty).toSeq
      val kv = lines.map { l =>
        val Array(k, v) = l.split("=", 2); (k, v)
      }
      Some(BatchManifest(
        kv.collectFirst { case ("foldedVersion", v) => v.toLong },
        kv.collectFirst { case ("foldedThrough", v) => v.toLong }.getOrElse(-1L),
        kv.collect { case ("batch", v) => v.toLong }.sorted))
    }
  }

  /** Manifest-recorded data sizes: per-batch bytes (written when the
    * batch commits) and the folded version's bytes. [[foldBatches]]
    * sizing prefers these over listing every part dir — on an object
    * store that is the difference between O(1) metadata reads and
    * O(batches) recursive LIST round trips per fold. Absent entries
    * (legacy manifests, healed-from-marker batches) fall back to a
    * listing. */
  private[graft] def readManifestSizes(spark: SparkSession,
      root: String): (Map[Long, Long], Option[Long]) = {
    val f = fs(spark, root)
    val p = manifestPath(root)
    if (!f.exists(p)) (Map.empty, None)
    else {
      val kv = readSmallFile(f, p).linesIterator.map(_.trim)
        .filter(_.nonEmpty).map { l =>
          val Array(k, v) = l.split("=", 2); (k, v)
        }.toSeq
      val perBatch = kv.collect { case ("batchBytes", v) =>
        val Array(id, b) = v.split(":", 2); id.toLong -> b.toLong
      }.toMap
      (perBatch, kv.collectFirst { case ("foldedBytes", v) => v.toLong })
    }
  }

  private def writeManifest(spark: SparkSession, root: String,
      m: BatchManifest, batchBytes: Map[Long, Long],
      foldedBytes: Option[Long]): Unit = {
    val sb = new StringBuilder
    m.foldedVersion.foreach(v => sb ++= s"foldedVersion=$v\n")
    sb ++= s"foldedThrough=${m.foldedThrough}\n"
    foldedBytes.foreach(b => sb ++= s"foldedBytes=$b\n")
    m.batches.sorted.foreach(b => sb ++= s"batch=$b\n")
    batchBytes.toSeq.sorted.foreach { case (id, b) =>
      sb ++= s"batchBytes=$id:$b\n"
    }
    atomicWrite(spark, manifestPath(root), sb.toString)
  }

  /** Committed `batch=N` dirs on disk with id > `aboveId`, by marker.
    * Writer-side listing (rare); readers go through the manifest. */
  private def markedBatchDirs(f: FileSystem, root: String,
      aboveId: Long): Seq[Long] = {
    val rootPath = new Path(root)
    if (!f.exists(rootPath)) Nil
    else f.listStatus(rootPath).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("batch="))
      .map(_.getPath.getName.stripPrefix("batch=").toLong)
      .filter(id => id > aboveId &&
        f.exists(new Path(new Path(root, s"batch=$id"), "_COMMITTED")))
      .sorted
  }

  /** Rewrite the manifest from the on-disk markers (keeping the folded
    * fields) — the self-healing step every commit runs, so a crash
    * between a batch's marker and its manifest line is repaired by the
    * next commit rather than losing the batch. */
  private def healManifest(spark: SparkSession, root: String,
      extraBytes: Map[Long, Long] = Map.empty): BatchManifest = {
    val f = fs(spark, root)
    // Monotonic heal: this is an UNLOCKED read-modify-write racing the
    // fold's manifest swap, so (a) the manifest is read IMMEDIATELY
    // before each write and foldedVersion/foldedThrough never regress
    // past what any concurrent writer committed (take the max), and
    // (b) after writing we re-read and, if a writer whose swap landed
    // BEFORE ours advanced further, merge and re-write (bounded; the
    // merge is monotone, so racing writers converge instead of
    // fighting). The check cannot see a writer whose swap lands INSIDE
    // our read->write window — that swap is clobbered and the re-read
    // returns our own manifest; that residual race is covered by the
    // fold side's own verify loop (fold re-reads after its swap and
    // re-heals until its version sticks).
    // Without this a heal that read the pre-swap manifest and whose
    // write landed after expireBatches deleted the folded batch= dirs
    // would regress the fold and orphan its rows.
    var m = BatchManifest(None, -1L, Nil)
    var settled = false
    var attempt = 0
    while (!settled && attempt < 5) {
      if (attempt > 0) Thread.sleep(10L * attempt)
      // listings FIRST (object-store LISTs are the slow part), so the
      // manifest re-read sits IMMEDIATELY before the atomic write —
      // the read->write window a racing fold swap could slip into is
      // one small read + one atomic replace, not a recursive listing.
      // A batch whose marker lands between the listing and the write
      // is picked up by the NEXT heal (every commit runs one).
      val allMarked = markedBatchDirs(f, root, -1L)
      val (curBytes, foldedBytes) = readManifestSizes(spark, root)
      val cur = readManifest(spark, root)
        .getOrElse(BatchManifest(None, -1L, Nil))
      val through = math.max(m.foldedThrough, cur.foldedThrough)
      val foldedV = (m.foldedVersion.toSeq ++ cur.foldedVersion)
        .reduceOption(math.max(_, _))
      m = BatchManifest(foldedV, through, allMarked.filter(_ > through))
      val bytes = (curBytes ++ extraBytes)
        .filter { case (id, _) => m.batches.contains(id) }
      writeManifest(spark, root, m, bytes, foldedBytes)
      settled = readManifest(spark, root).forall(w =>
        w.foldedThrough <= m.foldedThrough &&
          w.foldedVersion.forall(v => m.foldedVersion.exists(_ >= v)))
      attempt += 1
    }
    m
  }

  /** Per-micro-batch write-audit-COMMIT — the streaming face of the
    * publish pattern ([[graft.streaming.Streams.streamingPublish]]
    * drives it from `foreachBatch`): the batch stages under
    * `root/_tmp/batch_{id}`, the STAGED FILES are audited, and a clean
    * batch promotes to `root/batch={id}` with a `_COMMITTED` marker and
    * a `_MANIFEST` line written LAST — readers ([[readCommitted]]) union
    * exactly the manifest's dirs, so a half-written or failed batch is
    * never visible. A dirty batch's staging is deleted and the batch
    * skipped: the served corpus never sees it.
    *
    * Idempotent per batch id (foreachBatch re-delivers a batch after a
    * restart): an id at or below the manifest's `foldedThrough` (its
    * rows live in the folded version; the dir may be expired) or an
    * already-committed id returns true without rewriting; an
    * uncommitted leftover dir from a crashed attempt is replaced.
    * Returns whether the batch is committed. */
  def publishBatch(df: DataFrame, root: String, batchId: Long,
      constraints: Seq[Check.Constraint] = Nil): Boolean =
    publishBatchImpl(df, root, batchId, constraints, noHook)

  private[graft] def publishBatchImpl(df: DataFrame, root: String,
      batchId: Long, constraints: Seq[Check.Constraint],
      hook: String => Unit): Boolean = {
    val spark = df.sparkSession
    val f = fs(spark, root)
    if (readManifest(spark, root).exists(_.foldedThrough >= batchId))
      return true // folded away: re-delivery after fold+expire is a no-op
    val finalPath = new Path(root, s"batch=$batchId")
    val marker = new Path(finalPath, "_COMMITTED")
    if (f.exists(marker)) {
      // committed but possibly missing its manifest line (crash between
      // marker and manifest): heal rather than silently return
      healManifest(spark, root): Unit
      return true
    }
    if (f.exists(finalPath)) f.delete(finalPath, true) // crashed, uncommitted
    val stagingPath = new Path(root, s"_tmp/batch_$batchId")
    if (f.exists(stagingPath)) f.delete(stagingPath, true)
    df.write.mode("error").parquet(stagingPath.toString)
    hook("staged")
    val clean = constraints.isEmpty || {
      val staged = Taps.parquet(spark, stagingPath.toString)
      !Check.check(staged, constraints).collect()
        .exists(r => r.getString(0) != "rows" && r.getLong(1) > 0)
    }
    if (!clean) { f.delete(stagingPath, true); false }
    else {
      // one listing at commit time (of files this job just wrote)
      // records the batch's data bytes in the manifest, so fold sizing
      // never re-lists the dir (see readManifestSizes)
      val stagedBytes = dataFiles(spark, stagingPath.toString).map(_._2).sum
      require(f.rename(stagingPath, finalPath),
        s"rename $stagingPath -> $finalPath failed")
      hook("renamed")
      f.create(marker, true).close() // integrity marker
      hook("marked")
      // manifest line LAST: visibility point
      healManifest(spark, root, Map(batchId -> stagedBytes)): Unit
      true
    }
  }

  /** Retention for a [[publish]] root (vacuum): delete COMMITTED
    * versions older than the newest `keepLast` committed ones, never the
    * currently served one and never a version in `protect` (the batch-
    * root fold chain passes its manifest's foldedVersion — see
    * [[expireBatches]]). Marker-less v-dirs AT OR ABOVE the first
    * markered version (the marker-protocol migration boundary) and
    * below the current version are provably crash debris (under the
    * protocol the marker is the commit point) and are deleted without
    * counting toward `keepLast` — debris must not silently shrink
    * committed-version retention — but `protect` shields them
    * defensively. Marker-less dirs BELOW that boundary predate the
    * migration (legacy commits never wrote markers) and count as
    * committed history under plain `keepLast`; the one mis-class this
    * admits is genuine crash debris below the first markered version
    * (e.g. the root's very first publish crashed pre-marker), which is
    * permanently treated as committed and only ages out via `keepLast`.
    * A marker-less dir ABOVE the current version is left alone (it may
    * be a live publish between its rename and its marker PUT). Staging
    * leftovers under `_tmp/` older than the current version are cleaned
    * too.
    * Driver-side metadata listing + one recursive delete per expired
    * version — no data read. Returns every deleted version number
    * (committed expiries + debris).
    *
    * The `_COMMITTED` markers are the safety contract: [[current]]
    * resolves through them ([[currentVersion]]; `_LATEST` is an advisory
    * cache), so expiring old committed versions can never break a reader
    * that re-resolves; a reader holding a file handle into an expired
    * version is the same snapshot-expiry contract every table format
    * has (retention must exceed the longest query). */
  def expireVersions(spark: SparkSession, root: String,
      keepLast: Int, protect: Set[Long] = Set.empty): Seq[Long] = {
    require(keepLast >= 1, s"keepLast must be >= 1, got $keepLast")
    val f = fs(spark, root)
    val cur = currentVersion(spark, root).getOrElse(
      sys.error(s"publish root $root has no published version"))
    val versions = versionDirs(f, root)
    val ptr = pointerValue(f, root)
    // committed = marker present, or the legacy pointer names it (same
    // visibility rule as currentVersion — pre-marker roots still count)
    val markers = versions.filter(v => f.exists(versionMarker(root, v))).toSet
    // "Provably crash debris" is only provable for versions created
    // UNDER the marker protocol: anything below the FIRST markered
    // version predates the migration (legacy commits never wrote
    // markers) and counts as committed history under plain keepLast;
    // a marker-less dir at or above that boundary was written by the
    // marker protocol and its missing marker proves the crash. A fully
    // legacy root (no markers at all) has no boundary — everything is
    // committed. Debris also respects `protect`, defensively: nothing
    // a caller names may be deleted under any classification.
    val firstMarked = markers.reduceOption(math.min(_, _))
    val (committed, debris) = firstMarked match {
      case None => (versions, Seq.empty[Long])
      case Some(fm) =>
        val c = versions.filter(v =>
          ptr.contains(v) || markers.contains(v) || v < fm)
        (c, versions.filterNot(c.contains).filter(v => v < cur && !protect(v)))
    }
    val expire = committed.dropRight(keepLast)
      .filter(v => v != cur && !protect(v))
    (debris ++ expire).foreach(v => f.delete(new Path(root, s"v$v"), true))
    val tmp = new Path(root, "_tmp")
    if (f.exists(tmp)) f.listStatus(tmp).toSeq
      .filter(st => st.getPath.getName.matches("staging_v\\d+") &&
        st.getPath.getName.stripPrefix("staging_v").toLong < cur)
      .foreach(st => f.delete(st.getPath, true))
    (debris ++ expire).sorted
  }

  /** The committed batches of a [[publishBatch]] root, as one dataset:
    * the folded version (if any) plus the committed batch dirs. With a
    * `_MANIFEST` present, discovery is ONE file read and the reads go to
    * the named paths directly; a legacy root without one falls back to
    * the `_COMMITTED`-marker listing. Returns None when nothing has
    * committed yet (distinct from an empty committed batch). */
  def readCommitted(spark: SparkSession, root: String): Option[DataFrame] = {
    val f = fs(spark, root)
    readManifest(spark, root) match {
      case Some(m) =>
        val parts = m.foldedVersion.map(v => s"$root/v$v").toSeq ++
          m.batches.map(id => s"$root/batch=$id")
        if (parts.isEmpty) None else Some(spark.read.parquet(parts: _*))
      case None =>
        val rootPath = new Path(root)
        if (!f.exists(rootPath)) return None
        val dirs = f.listStatus(rootPath).toSeq
          .filter(st => st.isDirectory && st.getPath.getName.startsWith("batch=") &&
            f.exists(new Path(st.getPath, "_COMMITTED")))
          .map(_.getPath.toString)
        if (dirs.isEmpty) None
        else Some(spark.read.parquet(dirs: _*))
    }
  }

  /** Fold a [[publishBatch]] root's committed batches into ONE published
    * version — the retention step that keeps a long-running streaming
    * root bounded. Reads the previous fold (if any) plus every committed
    * batch, rewrites them as ceil(bytes/targetBytes) files (the
    * [[compact]] sizing rule, measured from the listings), and commits
    * through the full [[publish]] machinery: stage off the serving path,
    * audit the STAGED FILES, atomic rename + pointer swap. Only after
    * the publish commits does the manifest swap to the new fold, so a
    * crash anywhere leaves readers on the exact previous committed view
    * and a re-run converges (the orphan `v{n}` is provably uncommitted
    * and gets replaced). The folded `batch=N` dirs stay on disk until
    * [[expireBatches]] — fold is non-destructive by itself.
    *
    * A failed audit publishes nothing and leaves manifest and batches
    * untouched. Scale shape: one distributed read→exchange→write over
    * the folded bytes + one audit pass; everything else is metadata. */
  def foldBatches(spark: SparkSession, root: String,
      targetBytes: Long = 128L << 20,
      constraints: Seq[Check.Constraint] = Nil): FoldReport =
    foldBatchesImpl(spark, root, targetBytes, constraints, noHook)

  private[graft] def foldBatchesImpl(spark: SparkSession, root: String,
      targetBytes: Long, constraints: Seq[Check.Constraint],
      hook: String => Unit): FoldReport = withLease(fs(spark, root), root) {
    require(targetBytes > 0, s"targetBytes must be positive, got $targetBytes")
    val man = healManifest(spark, root)
    require(man.batches.nonEmpty,
      s"foldBatches: no committed unfolded batches under $root")
    val parts = man.foldedVersion.map(v => s"$root/v$v").toSeq ++
      man.batches.map(id => s"$root/batch=$id")
    // sizing prefers manifest-recorded bytes (written at each commit);
    // a missing entry (legacy root, marker-healed batch) falls back to
    // listing just that part
    val (sizes, foldedBytes) = readManifestSizes(spark, root)
    val bytes =
      man.foldedVersion.map(v => foldedBytes.getOrElse(
        dataFiles(spark, s"$root/v$v").map(_._2).sum)).getOrElse(0L) +
      man.batches.map(id => sizes.getOrElse(id,
        dataFiles(spark, s"$root/batch=$id").map(_._2).sum)).sum
    val nOut = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
    val df = spark.read.parquet(parts: _*).repartition(nOut)
    val version = math.max(
      currentVersion(spark, root).getOrElse(0L),
      man.foldedVersion.getOrElse(0L)) + 1
    // the fold already holds the root's writer lease; publishLocked
    // skips re-acquiring it (withLease does not reenter)
    val rep = publishLocked(df, root, version, constraints, None, noHook)
    val through = math.max(man.foldedThrough, man.batches.max)
    if (rep.published) {
      hook("published")
      // manifest swap is the fold's visibility point: readers move from
      // (old fold + batches) to (new fold) in one atomic file replace.
      // The new fold's bytes are recorded now (one listing) so the NEXT
      // fold sizes itself from the manifest alone.
      //
      // Verified swap: publishBatch's healManifest is an UNLOCKED
      // read-modify-write, so a heal racing this swap can clobber it and
      // regress foldedVersion to the pre-fold value. Write, then verify
      // the swap stuck, and re-write until it does (bounded; heals are
      // transient — one per batch commit — so this converges). Each
      // attempt folds in the batches committed meanwhile (marker scan
      // above `through`) instead of blanking them. A swap lost past the
      // retries is SAFE because healManifest is MONOTONIC (re-reads
      // before writing, never regresses foldedVersion/foldedThrough,
      // verifies its own write): the losing side here can only be a
      // heal that ADVANCED the fold fields, expireBatches protects the
      // manifest's foldedVersion from expiry, and the next fold
      // converges — the only cost is the orphaned v-dir until then.
      val fsys = fs(spark, root)
      val newBytes = dataFiles(spark, s"$root/v$version").map(_._2).sum
      var attempt = 0
      var swapped = false
      while (!swapped && attempt < 5) {
        if (attempt > 0) Thread.sleep(20L * attempt)
        val fresh = markedBatchDirs(fsys, root, through)
        val keptBytes = readManifestSizes(spark, root)._1
          .filter { case (id, _) => fresh.contains(id) }
        writeManifest(spark, root,
          BatchManifest(Some(version), through, fresh),
          keptBytes, foldedBytes = Some(newBytes))
        swapped = readManifest(spark, root).exists(m =>
          m.foldedVersion.contains(version) && m.foldedThrough == through)
        attempt += 1
      }
    }
    FoldReport(version, through, man.batches, rep.rows, rep.published,
      rep.violations)
  }

  /** Delete the `batch=N` dirs already absorbed by a fold (id <=
    * manifest `foldedThrough`) plus their staging debris — the
    * destructive half of [[foldBatches]], separated the same way
    * [[expireVersions]] is from [[publish]]. Never touches a manifest-
    * listed batch (those have id > foldedThrough by invariant) or the
    * folded version itself; a reader that re-resolves through the
    * manifest never references an expired dir. Superseded pre-fold
    * versions under the same root are vacuumed too (keepLast=1 —
    * the fold chain only ever serves the newest). Returns the expired
    * batch ids. */
  def expireBatches(spark: SparkSession, root: String): Seq[Long] = {
    val f = fs(spark, root)
    val man = readManifest(spark, root).getOrElse(return Nil)
    if (man.foldedThrough < 0) return Nil
    val rootPath = new Path(root)
    if (!f.exists(rootPath)) return Nil
    val folded = f.listStatus(rootPath).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("batch="))
      .map(_.getPath.getName.stripPrefix("batch=").toLong)
      .filter(_ <= man.foldedThrough).sorted
    folded.foreach(id => f.delete(new Path(root, s"batch=$id"), true))
    val tmp = new Path(root, "_tmp")
    if (f.exists(tmp)) f.listStatus(tmp).toSeq
      .filter(st => st.getPath.getName.matches("batch_\\d+") &&
        st.getPath.getName.stripPrefix("batch_").toLong <= man.foldedThrough)
      .foreach(st => f.delete(st.getPath, true))
    // vacuum superseded pre-fold versions, but NEVER the version the
    // manifest still references: if a fold crashed between its marker
    // commit and its manifest swap (or a concurrent heal regressed the
    // swap), currentVersion resolves the orphan-committed v{N} while
    // _MANIFEST still names v{M} — keepLast=1 alone would delete v{M}
    // and leave readCommitted pointing at a missing directory.
    if (man.foldedVersion.isDefined)
      expireVersions(spark, root, 1, protect = man.foldedVersion.toSet): Unit
    folded
  }

  /** Write-audit-publish. Stages `df` under `root/_tmp/staging_v{version}`,
    * re-reads the STAGED FILES and audits them ([[Check]] constraints +
    * optional exact row-count expectation), then either promotes
    * (rename to `root/v{version}`, `_COMMITTED` marker PUT — the commit
    * point — then a pointer refresh, after which [[current]] serves
    * this version) or deletes the staging dir and reports the
    * violations, leaving the previous version serving. The staging
    * rename need NOT be atomic (S3-class copy+delete is fine): a crash
    * mid-promote leaves a marker-less partial dir that no reader
    * resolves and the re-run replaces. Holds the root's writer lease
    * throughout (see the Concurrency section above).
    *
    * Versions are strictly increasing: publishing at or below the
    * current version fails loudly rather than silently rewriting
    * history (a re-run with the same version is a pipeline bug, not an
    * idempotent no-op — the staged bytes could differ). A MARKER-LESS
    * `v{version}` dir is a different story: the marker is the commit
    * point, so such a dir is provably the debris of a crash
    * mid-promote, and the publish replaces it — re-running a torn
    * publish converges instead of wedging.
    *
    * The audit reads the staged parquet, so it covers the full
    * write-path (encoders, codecs, schema) — not just the logical plan
    * that produced the data. Single-scan constraints (rows, not_null,
    * in_range) fold into ONE aggregation over the staged files; key-
    * level constraints (unique, ref_in) each add their own job
    * ([[Check.check]]). */
  def publish(df: DataFrame, root: String, version: Long,
      constraints: Seq[Check.Constraint] = Nil,
      expectRows: Option[Long] = None): PublishReport =
    publishImpl(df, root, version, constraints, expectRows, noHook)

  private[graft] def publishImpl(df: DataFrame, root: String, version: Long,
      constraints: Seq[Check.Constraint], expectRows: Option[Long],
      hook: String => Unit): PublishReport =
    withLease(fs(df.sparkSession, root), root)(
      publishLocked(df, root, version, constraints, expectRows, hook))

  /** [[publishImpl]] body, lease already held (foldBatches reenters
    * here under its own lease). */
  private def publishLocked(df: DataFrame, root: String, version: Long,
      constraints: Seq[Check.Constraint], expectRows: Option[Long],
      hook: String => Unit): PublishReport = {
    val spark = df.sparkSession
    val f = fs(spark, root)
    currentVersion(spark, root).foreach { cur =>
      require(version > cur,
        s"publish version $version <= current $cur at $root (versions are strictly increasing)")
    }
    // staged under the underscore-hidden `_tmp/` (a root-level glob never
    // sees it) with a non-hidden LEAF name (the audit's direct read sees
    // every staged file, no hidden-path fallback involved)
    val stagingPath = new Path(root, s"_tmp/staging_v$version")
    val finalPath = new Path(root, s"v$version")
    // version > current (checked above), so an existing finalPath was
    // never pointed at — uncommitted debris of a torn publish; replace it
    if (f.exists(finalPath)) f.delete(finalPath, true)
    if (f.exists(stagingPath)) f.delete(stagingPath, true)
    df.write.mode("error").parquet(stagingPath.toString)
    hook("staged")

    val staged = Taps.parquet(spark, stagingPath.toString)
    val report =
      if (constraints.isEmpty)
        staged.agg(count(lit(1)).as("value"))
          .select(lit("rows").as("check_name"), col("value"))
      else Check.check(staged, constraints)
    val rep = report.collect()
      .map(r => r.getString(0) -> r.getLong(1)).toSeq
    val rows = rep.collectFirst { case ("rows", n) => n }.getOrElse(0L)
    val violations =
      rep.filter { case (n, v) => n != "rows" && v > 0 } ++
        expectRows.collect {
          case want if want != rows => (s"row_count(want=$want)", rows)
        }

    if (violations.nonEmpty) {
      f.delete(stagingPath, true)
      PublishReport(version, published = false, rows, violations)
    } else {
      hook("audited")
      require(f.rename(stagingPath, finalPath),
        s"rename $stagingPath -> $finalPath failed")
      hook("renamed")
      // COMMIT: one marker PUT — atomic on every store. From here the
      // version is committed whether or not the pointer refresh lands.
      f.create(versionMarker(root, version), true).close()
      hook("committed")
      // advisory pointer refresh (atomic where the store supports it;
      // a torn/missing pointer only costs readers the marker scan)
      atomicWrite(spark, pointer(root), version.toString)
      PublishReport(version, published = true, rows, Nil)
    }
  }
}
