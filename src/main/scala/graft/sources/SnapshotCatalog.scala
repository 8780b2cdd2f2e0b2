package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Minimal snapshot-isolated table catalog over plain parquet — the
  * table-format seam (Iceberg/Delta-style) expressed with nothing but
  * files and atomic manifest publishes, so the ENGINE-side semantics
  * (atomic publish, snapshot isolation, time travel, file-level reuse
  * across versions, optimistic concurrency, snapshot expiry) are
  * implemented and testable without a format dependency.
  *
  * Layout under a table root:
  * {{{
  *   <root>/data/<batch>/part-*.parquet     immutable data files
  *   <root>/manifests/commit-v<N>.txt       PER-COMMIT DELTA: one
  *                                          "A\t<path>" (added) or
  *                                          "R\t<path>" (removed) per line
  *   <root>/manifests/checkpoint-v<N>.txt   full file list at N (one
  *                                          path per line), written every
  *                                          [[checkpointEvery]] commits
  *                                          and at expiry boundaries
  * }}}
  *
  * The metadata tier is a DELTA LOG (the Delta-Lake log/checkpoint
  * split): a commit writes only the files it ADDS or REMOVES — O(delta)
  * bytes, so a streaming ingest committing one version per micro-batch
  * (st36's shape) writes O(N·batch) manifest bytes over N batches, not
  * the O(N²) a full-file-list-per-version manifest costs. A reader
  * resolves version v from the newest checkpoint ≤ v plus the ≤
  * [[checkpointEvery]] commit deltas after it — O(table + recent deltas)
  * once, never O(versions × table). Checkpoints are derived data: a
  * crash between a commit and its checkpoint only means readers replay
  * a few more deltas.
  *
  * The CURRENT version is the highest commit number present — there is
  * no mutable `latest` pointer file, so a commit is ONE atomic publish
  * and there is no crash window in which the table has a manifest but
  * no pointer, or a pointer to a manifest that does not exist yet.
  *
  * Contract:
  *   - data files are IMMUTABLE once a manifest references them — a new
  *     version adds new files and a new commit delta, never rewrites old
  *     files (so an in-flight reader of v1 is never torn by a v2
  *     commit). [[writeData]] enforces this against at-least-once
  *     replays: a batch dir any surviving version references is never
  *     rewritten — the already-committed file list is returned instead;
  *   - a commit publishes version N exclusively: two racing committers
  *     cannot both land on N. [[commitLoop]] is the one optimistic
  *     transaction loop every write past version 1 publishes through —
  *     on collision it re-reads the new latest state, re-checks the op
  *     against it and re-applies its delta at N+1, so concurrent
  *     appenders both succeed and neither's files are lost. Exclusivity comes from
  *     the [[AtomicPublish]] seam below — NOT from a JVM lock — so it
  *     holds across drivers (two independent jobs racing on one table);
  *   - time travel = resolving an old version, which stays valid until
  *     an explicit [[expire]], which first CHECKPOINTS the new oldest
  *     surviving version (so it stays resolvable once older deltas are
  *     gone), then removes expired manifests, and only then the data
  *     files no surviving version references.
  *
  * All filesystem access goes through the Hadoop [[FileSystem]] API
  * resolved from the active session's configuration. The exclusive
  * publish is pluggable per filesystem scheme ([[AtomicPublish]]):
  *   - `file:` → [[LocalLinkPublish]]: hard-link creation (`link(2)`)
  *     is atomic-exclusive at the kernel level, so two PROCESSES racing
  *     on a local path cannot both claim a version — the cross-driver
  *     guarantee a JVM lock around a POSIX rename (which overwrites)
  *     cannot give;
  *   - everything else → [[LockedRenamePublish]]: HDFS `rename` is an
  *     atomic namespace op that FAILS when the destination exists (true
  *     CAS); the added same-JVM lock only serializes same-driver
  *     committers on filesystems whose rename overwrites;
  *   - object stores → [[ConditionalPutPublish]] (create-no-overwrite,
  *     the conditional-PUT / If-None-Match shape): select it with
  *     [[withPublisher]] on stores where exclusive create is atomic.
  *
  * At 100 TB this is the shape that makes compaction (src09), partition
  * corrections (src10), streaming appends (st36), and the engine's own
  * mutable stores (the LSH band index, the LWW store, the profile
  * partial stores) safe under concurrent readers AND writers: writers
  * stage immutable files, then publish an O(delta) commit; a reader
  * always resolves a COMPLETE version — never a half-written directory,
  * and never the "no table at all" window a rename-based directory swap
  * leaves.
  */
object SnapshotCatalog {

  private def hadoopConf: Configuration =
    SparkSession.getActiveSession.map(_.sessionState.newHadoopConf())
      .getOrElse(new Configuration())

  private def fsFor(p: Path): FileSystem = p.getFileSystem(hadoopConf)

  private val CommitName = """commit-v(\d+)\.txt""".r
  private val CheckpointName = """checkpoint-v(\d+)\.txt""".r

  /** Default vacuum-retention window for INLINE maintenance expires
    * (the `expire(keepLast = 2)` a compaction/retraction runs right
    * after its commit): back-to-back maintenance ops with a bare
    * keepLast can GC the version a concurrent reader resolved moments
    * earlier (compact then retract lands two versions in milliseconds —
    * keepLast = 2 then covers only the maintenance ops themselves, not
    * the reader). A version younger than this window is never GC'd, so
    * a reader gets at least this long to finish a resolved snapshot —
    * the same contract as Delta's vacuum retention. Dedicated
    * maintenance jobs may still pass `minAgeMs = 0` explicitly
    * (src13's census does). */
  val maintenanceRetentionMs: Long = 600000L

  /** Commits per checkpoint: resolution replays at most this many
    * deltas past a checkpoint. 8 balances commit-path cost (one
    * O(table) checkpoint write per 8 O(delta) commits) against read
    * amplification; Delta's default is 10 commits per checkpoint. */
  val checkpointEvery: Int = 8

  private def manifestDir(root: String) = new Path(s"$root/manifests")
  private def commitPath(root: String, v: Int) =
    new Path(manifestDir(root), s"commit-v$v.txt")
  private def checkpointPath(root: String, v: Int) =
    new Path(manifestDir(root), s"checkpoint-v$v.txt")

  // ---- the atomic-publish seam ---------------------------------------

  /** Publish `tmp` at `dest` iff `dest` does not exist, atomically with
    * respect to every other publisher of `dest` — including ones in
    * OTHER processes. Returns true on the win; the loser's tmp is
    * cleaned up by the caller. This is the single primitive the
    * catalog's optimistic concurrency rests on. */
  trait AtomicPublish {
    def publish(fs: FileSystem, tmp: Path, dest: Path): Boolean
  }

  /** Local-filesystem publish via hard-link creation: `link(2)` fails
    * with EEXIST atomically at the kernel level, so two PROCESSES
    * racing on the same destination cannot both win — unlike POSIX
    * `rename`, which silently overwrites (the reason a rename-based
    * local publish needs a JVM lock and is then only single-driver
    * exact). The tmp link is removed after the attempt either way. */
  object LocalLinkPublish extends AtomicPublish {
    def publish(fs: FileSystem, tmp: Path, dest: Path): Boolean = {
      val t = java.nio.file.Paths.get(tmp.toUri.getPath)
      val d = java.nio.file.Paths.get(dest.toUri.getPath)
      val won =
        try { java.nio.file.Files.createLink(d, t); true }
        catch {
          case _: java.nio.file.FileAlreadyExistsException => false
        }
      fs.delete(tmp, false)
      won
    }
  }

  /** Rename-based publish: on HDFS, `rename` is an atomic namespace
    * operation that fails when the destination exists — a true CAS
    * across any number of drivers. The exists-check + same-JVM lock
    * only matter on filesystems whose rename overwrites; there they
    * serialize committers WITHIN one driver (use [[LocalLinkPublish]]
    * or [[ConditionalPutPublish]] for cross-process exactness on such
    * filesystems). */
  object LockedRenamePublish extends AtomicPublish {
    private val locks =
      new java.util.concurrent.ConcurrentHashMap[String, Object]()
    def publish(fs: FileSystem, tmp: Path, dest: Path): Boolean = {
      val lock = locks.computeIfAbsent(dest.toString, _ => new Object)
      val won = lock.synchronized {
        !fs.exists(dest) && fs.rename(tmp, dest)
      }
      if (!won) fs.delete(tmp, false)
      won
    }
  }

  /** Conditional-PUT-shaped publish: write the destination directly
    * with `create(dest, overwrite = false)` — on stores where exclusive
    * create is atomic (S3 with If-None-Match; GCS preconditions) this
    * is the object-store commit protocol (no rename exists there). The
    * bytes are fully staged in memory and written in ONE stream whose
    * `close()` is the object store's all-or-nothing PUT — commit files
    * are small (O(delta) lines), so buffering is bounded.
    *
    * Failure semantics distinguish LOST RACE from IO FAILURE: a race
    * is only reported (`false`, the caller's cue to retry at the next
    * version) when the destination EXISTS after the failed create;
    * any other IOException — a transient store error, a permission
    * failure — is rethrown, because silently mapping it to "lost" would
    * make [[commitLoop]] spin re-reading an unchanged latest version
    * and mask the real fault. */
  object ConditionalPutPublish extends AtomicPublish {
    def publish(fs: FileSystem, tmp: Path, dest: Path): Boolean = {
      val bytes = {
        val in = fs.open(tmp)
        try {
          val buf = new java.io.ByteArrayOutputStream()
          org.apache.hadoop.io.IOUtils.copyBytes(in, buf, 8192, false)
          buf.toByteArray
        } finally in.close()
      }
      val won =
        try {
          val out = fs.create(dest, false)
          try out.write(bytes) finally out.close()
          true
        } catch {
          case e: java.io.IOException =>
            // probe: dest present => another committer won the version;
            // dest absent => the create itself failed — surface it
            if (fs.exists(dest)) false else throw e
        }
      fs.delete(tmp, false)
      won
    }
  }

  @volatile private var publisherOverride: Option[AtomicPublish] = None

  /** Run `body` with every catalog publish routed through `p` — the
    * test seam for exercising an alternative publish protocol (e.g.
    * [[ConditionalPutPublish]]) without config plumbing. */
  def withPublisher[T](p: AtomicPublish)(body: => T): T = {
    val prev = publisherOverride
    publisherOverride = Some(p)
    try body finally publisherOverride = prev
  }

  /** Filesystem schemes with no atomic rename but an atomic exclusive
    * create (conditional PUT / If-None-Match / preconditions) — the
    * object stores every 100 TB deployment actually commits to. Their
    * "rename" is copy+delete and OVERWRITES, so the rename publisher
    * would lose races silently there. */
  private val conditionalPutSchemes =
    Set("s3", "s3a", "s3n", "gs", "abfs", "abfss", "wasb", "wasbs", "oss", "cos")

  private[graft] def publisherFor(dest: Path): AtomicPublish =
    publisherOverride.getOrElse {
      val scheme = Option(dest.toUri.getScheme).getOrElse(
        fsFor(dest).getScheme)
      if (scheme == "file" || scheme == null) LocalLinkPublish
      else if (conditionalPutSchemes.contains(scheme)) {
        // Hadoop's create(dest, overwrite=false) on object-store
        // connectors is a client-side HEAD-then-PUT UNLESS the store's
        // conditional-write support is enabled (e.g. s3a If-None-Match)
        // — a non-atomic check would let two cross-driver committers
        // both believe they won, the exact lost update this seam
        // exists to prevent. Require the operator to attest the
        // capability rather than silently degrading.
        if (!sys.env.get("GRAFT_OBJECTSTORE_CONDITIONAL_CREATE").contains("true") &&
            !sys.props.get("graft.objectstore.conditional.create").contains("true"))
          sys.error(
            s"catalog commit to $scheme:// needs atomic exclusive create: " +
              "enable the store's conditional-write support (e.g. s3a " +
              "If-None-Match) and attest it with " +
              "GRAFT_OBJECTSTORE_CONDITIONAL_CREATE=true (or " +
              "-Dgraft.objectstore.conditional.create=true); without it " +
              "two drivers can both claim the same version")
        ConditionalPutPublish
      }
      else LockedRenamePublish // HDFS and rename-exclusive filesystems
    }

  private def publishUtf8(fs: FileSystem, dest: Path, content: String): Boolean = {
    val tmp = new Path(dest.getParent,
      s".${dest.getName}-${java.util.UUID.randomUUID().toString.take(8)}.tmp")
    writeUtf8(fs, tmp, content)
    publisherFor(dest).publish(fs, tmp, dest)
  }

  // ---- version listing & resolution ----------------------------------

  private def listManifestNames(root: String): Seq[String] = {
    val mdir = manifestDir(root)
    val fs = fsFor(mdir)
    if (!fs.exists(mdir)) Seq.empty
    else fs.listStatus(mdir).toSeq.map(_.getPath.getName)
  }

  /** All committed versions, ascending (empty before the first commit).
    * This is the GROUND-TRUTH full listing — maintenance ops (expire,
    * history, orphan sweep) and external audits read it; the hot paths
    * below use the validated [[LogHint]] instead, because a full
    * directory listing is O(surviving versions) — per-child stat
    * syscalls on a local FS, paged LIST calls on an object store —
    * and the read/commit paths would otherwise pay it several times
    * per operation on every query over a long-lived table. */
  def versions(root: String): Seq[Int] =
    listManifestNames(root).collect {
      case CommitName(n)     => n.toInt
      case CheckpointName(n) => n.toInt
    }.distinct.sorted

  /** Advisory per-root memo of the log's SHAPE (not its content):
    * the latest version and the known checkpoint versions. Always
    * VALIDATED against the filesystem with O(1) existence probes
    * before use — the invariants that make a stale hint detectable:
    *   - commit versions are CONTIGUOUS from some floor (a commit only
    *     ever lands at latest+1; [[expire]] removes a PREFIX), so the
    *     true latest is reachable from any surviving cached latest by
    *     probing upward, and "commits (cp, v] all exist" reduces to
    *     ONE probe of cp+1;
    *   - periodic checkpoints land at multiples of [[checkpointEvery]],
    *     so newer ones than the cache knows are discoverable by
    *     probing those slots; an expiry-floor checkpoint at an
    *     arbitrary version is found via the refresh-on-invalid path.
    * A hint that fails validation falls back to the full listing —
    * the hint is a fast path, never a source of truth. */
  private case class LogHint(latest: Int, checkpoints: Vector[Int])

  private val logHints =
    new java.util.concurrent.ConcurrentHashMap[String, LogHint]()

  private def refreshHint(root: String): Option[LogHint] = {
    val names = listManifestNames(root)
    val commits = names.collect { case CommitName(n) => n.toInt }
    val cps = names.collect { case CheckpointName(n) => n.toInt }
    if (commits.isEmpty && cps.isEmpty) { logHints.remove(root); None }
    else {
      val h = LogHint((commits ++ cps).max, cps.sorted.toVector)
      logHints.put(root, h)
      Some(h)
    }
  }

  private def checkpointExists(root: String, c: Int): Boolean = {
    val p = checkpointPath(root, c); fsFor(p).exists(p)
  }

  def latestVersionOption(root: String): Option[Int] = {
    val cached = Option(logHints.get(root))
      .filter(h => commitExists(root, h.latest) ||
        checkpointExists(root, h.latest))
    cached.orElse(refreshHint(root)).map { h =>
      // the latest may have advanced since the hint: commits are
      // contiguous, so probe upward until the first missing version
      var v = h.latest
      while (commitExists(root, v + 1)) v += 1
      if (v != h.latest)
        logHints.merge(root, LogHint(v, h.checkpoints), (a, b) =>
          LogHint(math.max(a.latest, b.latest),
            if (a.checkpoints.length >= b.checkpoints.length) a.checkpoints
            else b.checkpoints))
      v
    }
  }

  def latestVersion(root: String): Int =
    latestVersionOption(root).getOrElse(noTable(root))

  /** The refusal of an op that needs a table at a root holding none. */
  private def noTable(root: String): Nothing =
    sys.error(s"no committed version under $root")

  /** True once the root has at least one committed version. */
  def isTable(root: String): Boolean = latestVersionOption(root).isDefined

  /** The newest checkpoint ≤ v that resolution can SOUNDLY start from,
    * via the validated hint: the chosen checkpoint must exist and —
    * by the contiguous-prefix expiry invariant — `cp == v ||
    * commitExists(cp+1)` proves every commit in (cp, v] survives.
    * Newer periodic checkpoints than the cache knows are discovered by
    * probing the [[checkpointEvery]] slots above it; a hint that fails
    * validation (an expiry landed, or a floor checkpoint at an
    * off-slot version appeared) refreshes from the full listing once.
    * Returns None for "no usable checkpoint — start from commit 1"
    * (the caller's existing loud-failure path covers a truly
    * unresolvable version). */
  private def checkpointAtOrBelow(root: String, v: Int): Option[Int] = {
    def discover(h: LogHint): LogHint = {
      var cps = h.checkpoints
      var slot = (cps.lastOption.getOrElse(0) / checkpointEvery + 1) * checkpointEvery
      var changed = false
      while (slot <= v) {
        if (checkpointExists(root, slot)) { cps = cps :+ slot; changed = true }
        slot += checkpointEvery
      }
      val h2 = LogHint(math.max(h.latest, cps.lastOption.getOrElse(0)), cps)
      if (changed) logHints.put(root, h2)
      h2
    }
    def pick(h: LogHint): Either[Unit, Option[Int]] = {
      val cand = h.checkpoints.filter(_ <= v).lastOption
      cand match {
        case Some(cp) =>
          if (checkpointExists(root, cp) && (cp == v || commitExists(root, cp + 1)))
            Right(Some(cp))
          else Left(()) // stale: an expiry moved the floor — refresh
        case None =>
          if (v == 0 || commitExists(root, 1)) Right(None) // full replay OK
          else Left(()) // commit 1 gone: a floor checkpoint must exist
      }
    }
    val first = Option(logHints.get(root)).map(h => pick(discover(h)))
    first match {
      case Some(Right(r)) => r
      case _ => // cold cache or stale hint: ONE full listing, re-pick
        refreshHint(root) match {
          case None => None
          case Some(h) => pick(h) match {
            case Right(r) => r
            // still unresolvable: surface the same choice the listing
            // gives (newest listed checkpoint ≤ v) and let the caller's
            // expired-commit check fail loudly as before
            case Left(_) => h.checkpoints.filter(_ <= v).lastOption
          }
        }
    }
  }

  /** A data (or deletion-vector) file exactly as the delta log records
    * it: path plus the PLANNING metadata Delta-style checkpoints carry —
    * on-disk size and per-column typed (kind, min, max) stats — so query
    * planning over a snapshot is ONE metadata read (newest checkpoint +
    * ≤[[checkpointEvery]] deltas), never O(files) `getFileStatus` or
    * footer RPCs against the namenode/object store. `size = -1` and an
    * empty stats map mean "recorded by a path-only commit" (the
    * string-based [[commitRetry]]/[[tryCommit]] compatibility surface):
    * consumers fall back to a filesystem probe for exactly those
    * entries, so the enrichment is an optimization, never a gate. Stats
    * values use the sidecar encoding: kind `long` with decimal bounds,
    * kind `string` with base64'd UTF-8 bounds (unsigned-byte order —
    * see [[statStrBytes]]). `rows` (from the footer the stats pass
    * already opened) feeds maintenance decisions ([[maintainIfNeeded]]'s
    * deleted-fraction) and CBO sizing without any scan. A DV entry's
    * `covers` lists the data files its positions point at (`None` if
    * logged before coverage was: [[DvFiles.covered]] falls back). */
  final case class FileEntry(
      path: String, size: Long = -1L, rows: Long = -1L,
      stats: Map[String, (String, String, String)] = Map.empty,
      covers: Option[Seq[String]] = None)

  /** One manifest line for an entry:
    * `path[\tsize\trows[\tstatsEnc[\tcoversEnc]]]`, where statsEnc is
    * `;`-joined `b64(col):kind:min:max` cells and coversEnc `;`-joined
    * `b64(path)` cells — tab-free by construction (base64 and decimals
    * contain no tab/colon/semicolon), so the line stays splittable,
    * legacy path-only lines parse as entries with unknown metadata and
    * a reader that predates coverage ignores the last field. */
  private def encodeEntry(e: FileEntry): String = {
    val statsEnc = e.stats.toSeq.sortBy(_._1).map { case (c, (k, mn, mx)) =>
      s"${b64(c)}:$k:$mn:$mx"
    }.mkString(";")
    val coversEnc = e.covers.fold("")(fs => "\t" + fs.map(b64).mkString(";"))
    if (e.size < 0 && e.rows < 0 && statsEnc.isEmpty && coversEnc.isEmpty) e.path
    else if (statsEnc.isEmpty && coversEnc.isEmpty) s"${e.path}\t${e.size}\t${e.rows}"
    else s"${e.path}\t${e.size}\t${e.rows}\t$statsEnc$coversEnc"
  }

  private def decodeEntry(line: String): FileEntry = {
    val parts = line.split("\t", -1)
    if (parts.length == 1) FileEntry(parts(0))
    else {
      def num(i: Int): Long =
        if (parts.length <= i) -1L
        else try parts(i).toLong catch { case _: NumberFormatException => -1L }
      val stats =
        if (parts.length >= 4 && parts(3).nonEmpty)
          parts(3).split(";").iterator.flatMap { cell =>
            cell.split(":") match {
              case Array(c, k, mn, mx) =>
                try Some(unb64(c) -> (k, mn, mx))
                catch { case _: IllegalArgumentException => None }
              case _ => None // torn cell: that column reads stats-less
            }
          }.toMap
        else Map.empty[String, (String, String, String)]
      val covers = Option.when(parts.length >= 5)(
        parts(4).split(";").iterator.filter(_.nonEmpty).map(unb64).toSeq)
      FileEntry(parts(0), num(1), num(2), stats, covers)
    }
  }

  /** Everything a commit recorded: data-file adds/removes, the
    * row-level delete side — deletion-vector file adds (`V` lines),
    * targeted DV withdrawals (`W` lines, written by
    * [[replacePartitions]] when it restructures the DV set so stale
    * positions into replaced files don't dangle), and the DV reset
    * marker (`X` line, written by [[replace]]: a rewrite applies
    * pending deletes physically, so inherited DVs must stop applying
    * at that version) — plus the metadata lines that make planning
    * log-only: the committed batch's schema (`S`, base64'd Spark
    * schema JSON) and the table's hive-style partition spec (`P`). */
  private case class CommitDelta(adds: Seq[FileEntry], removes: Seq[String],
                                 dvAdds: Seq[FileEntry], dvReset: Boolean,
                                 schemaJson: Option[String],
                                 partJson: Option[String],
                                 dvRemoves: Seq[String] = Seq.empty,
                                 propsEnc: Option[String] = None,
                                 schemaSet: Boolean = false,
                                 loaded: Seq[String] = Seq.empty)

  /** Memo for parsed commit deltas and checkpoints — sound because BOTH
    * are immutable once published (the publish seam is exclusive-create;
    * expiry only DELETES them, and every consumer existence-checks via
    * [[commitExists]] before trusting content, so a cached copy of an
    * expired commit is never served as resolvable). One query plan
    * resolves a version several times (entries, DVs, schema, partition
    * spec); on a 100 TB deployment this turns 4-5 log reads per plan
    * into one, and repeated plans over a hot table into zero. */
  private val deltaCache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[(String, Int), CommitDelta](256, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, Int), CommitDelta]): Boolean =
        size() > 4096
    })

  private val checkpointCache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[(String, Int), CheckpointState](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, Int), CheckpointState]): Boolean =
        size() > 64
    })

  /** Drop the parsed-log memos — the "fresh reader process" seam for
    * specs that simulate on-disk corruption of an already-read commit
    * (in production commits are immutable, so the caches never go
    * stale; a process restart is the only way to observe a mutated
    * file, and this reproduces it). */
  private[graft] def dropCaches(): Unit = {
    deltaCache.clear()
    checkpointCache.clear()
    logHints.clear()
    DvFiles.clear()
  }

  private def commitDeltaFull(root: String, v: Int): CommitDelta = {
    val k = (root, v)
    val hit = deltaCache.get(k)
    if (hit != null) return hit
    val parsed = commitDeltaFullUncached(root, v)
    deltaCache.put(k, parsed)
    parsed
  }

  private def commitDeltaFullUncached(root: String, v: Int): CommitDelta = {
    val p = commitPath(root, v)
    val adds = Seq.newBuilder[FileEntry]
    val removes = Seq.newBuilder[String]
    val dvAdds = Seq.newBuilder[FileEntry]
    val dvRemoves = Seq.newBuilder[String]
    val loaded = Seq.newBuilder[String]
    var dvReset = false
    var schemaSet = false
    var schemaJson: Option[String] = None
    var partJson: Option[String] = None
    var propsEnc: Option[String] = None
    readUtf8(fsFor(p), p).linesIterator.filter(_.nonEmpty).foreach { l =>
      if (l.startsWith("A\t")) adds += decodeEntry(l.substring(2))
      else if (l.startsWith("R\t")) removes += l.substring(2)
      else if (l.startsWith("V\t")) dvAdds += decodeEntry(l.substring(2))
      else if (l.startsWith("W\t")) dvRemoves += l.substring(2)
      else if (l.startsWith("S\t")) schemaJson = Some(unb64(l.substring(2)))
      else if (l.startsWith("P\t")) partJson = Some(unb64(l.substring(2)))
      else if (l.startsWith("K\t")) propsEnc = Some(l.substring(2))
      else if (l.startsWith("L\t")) loaded += unb64(l.substring(2))
      else if (l == "X\tdvreset") dvReset = true
      else if (l == "X\tschemaset") schemaSet = true
      else sys.error(s"malformed commit line in $p: $l")
    }
    CommitDelta(adds.result(), removes.result(), dvAdds.result(), dvReset,
      schemaJson, partJson, dvRemoves.result(), propsEnc, schemaSet,
      loaded.result())
  }

  /** The (data add paths, data remove paths) a commit recorded. */
  private def commitDelta(root: String, v: Int): (Seq[String], Seq[String]) = {
    val d = commitDeltaFull(root, v)
    (d.adds.map(_.path), d.removes)
  }

  private def commitExists(root: String, v: Int): Boolean = {
    val p = commitPath(root, v); fsFor(p).exists(p)
  }

  /** A checkpoint file parsed: data entries, DV entries, and the
    * metadata lines ([[CommitDelta]]'s S/P) as of the checkpoint
    * version. Data lines are untagged (`path[\tsize[\tstats]]`); tags
    * are unambiguous because paths contain no tabs. */
  private case class CheckpointState(entries: Seq[FileEntry],
                                     dvEntries: Seq[FileEntry],
                                     schemaJson: Option[String],
                                     partJson: Option[String],
                                     propsEnc: Option[String] = None,
                                     loaded: Seq[String] = Seq.empty)

  private def readCheckpoint(root: String, c: Int): CheckpointState = {
    val k = (root, c)
    val hit = checkpointCache.get(k)
    if (hit != null) return hit
    val parsed = readCheckpointUncached(root, c)
    checkpointCache.put(k, parsed)
    parsed
  }

  private def readCheckpointUncached(root: String, c: Int): CheckpointState = {
    val p = checkpointPath(root, c)
    val entries = Seq.newBuilder[FileEntry]
    val dvs = Seq.newBuilder[FileEntry]
    var schemaJson: Option[String] = None
    var partJson: Option[String] = None
    var propsEnc: Option[String] = None
    val loaded = Seq.newBuilder[String]
    readUtf8(fsFor(p), p).linesIterator.filter(_.nonEmpty).foreach { l =>
      if (l.startsWith("V\t")) dvs += decodeEntry(l.substring(2))
      else if (l.startsWith("S\t")) schemaJson = Some(unb64(l.substring(2)))
      else if (l.startsWith("P\t")) partJson = Some(unb64(l.substring(2)))
      else if (l.startsWith("K\t")) propsEnc = Some(l.substring(2))
      else if (l.startsWith("L\t")) loaded += unb64(l.substring(2))
      else entries += decodeEntry(l)
    }
    CheckpointState(entries.result(), dvs.result(), schemaJson, partJson,
      propsEnc, loaded.result())
  }

  /** Resolve version `v`'s complete file list WITH the log-carried
    * planning metadata (sizes, typed stats): newest checkpoint ≤ v,
    * plus the commit deltas after it — O(table + ≤checkpointEvery
    * deltas) metadata reads, independent of how many versions the
    * table has lived and with ZERO per-file filesystem RPCs. */
  def manifestEntries(root: String, v: Int): Seq[FileEntry] = {
    val cp = checkpointAtOrBelow(root, v)
    val base = collection.mutable.LinkedHashMap.empty[String, FileEntry]
    cp.foreach(c => readCheckpoint(root, c).entries.foreach(e => base(e.path) = e))
    ((cp.getOrElse(0) + 1) to v).foreach { cv =>
      if (!commitExists(root, cv))
        sys.error(s"version $v unresolvable: commit $cv expired under $root " +
          "and no checkpoint covers it")
      val d = commitDeltaFull(root, cv)
      d.removes.foreach(base -= _)
      d.adds.foreach(e => base(e.path) = e)
    }
    base.values.toSeq.sortBy(_.path)
  }

  /** Resolve version `v`'s complete file list (paths only). */
  def manifestFiles(root: String, v: Int): Seq[String] =
    manifestEntries(root, v).map(_.path)

  /** The deletion-vector entries in effect at version `v` — resolved
    * like [[manifestEntries]] (checkpoint `V` lines + commit deltas,
    * with a [[replace]]'s reset clearing inherited DVs). */
  def dvEntries(root: String, v: Int): Seq[FileEntry] = {
    val cp = checkpointAtOrBelow(root, v)
    val base = collection.mutable.LinkedHashMap.empty[String, FileEntry]
    cp.foreach(c => readCheckpoint(root, c).dvEntries.foreach(e => base(e.path) = e))
    ((cp.getOrElse(0) + 1) to v).foreach { cv =>
      if (!commitExists(root, cv))
        sys.error(s"version $v unresolvable: commit $cv expired under $root")
      val d = commitDeltaFull(root, cv)
      if (d.dvReset) base.clear()
      d.dvRemoves.foreach(base -= _)
      d.dvAdds.foreach(e => base(e.path) = e)
    }
    base.values.toSeq.sortBy(_.path)
  }

  /** The deletion-vector files in effect at version `v` (paths only). */
  def dvFiles(root: String, v: Int): Seq[String] =
    dvEntries(root, v).map(_.path)

  /** Union of every surviving version's file list in ONE resolution:
    * resolve(vMin) plus every add after it (a file in any version
    * ≥ vMin either was in vMin's list or was added since). */
  private def survivingUnion(root: String): Set[String] = {
    val vs = versions(root)
    if (vs.isEmpty) Set.empty
    else {
      val base = collection.mutable.Set.from(manifestFiles(root, vs.head))
      ((vs.head + 1) to vs.last).foreach { v =>
        base ++= commitDelta(root, v)._1
      }
      base.toSet
    }
  }

  /** Union of every surviving version's in-effect DV files, same lemma
    * as [[survivingUnion]]: dv-in-effect at any v ≥ base ⊆
    * dvFiles(base) ∪ V-adds since (a replace's reset and `W`
    * withdrawals only shrink per-version sets, never the union — and
    * because versions survive as a contiguous suffix, every V-add
    * since base was in effect at its own add version, so the bound is
    * exact, not just an over-approximation). */
  private def survivingDvUnion(root: String): Set[String] = {
    val vs = versions(root)
    if (vs.isEmpty) Set.empty
    else {
      val base = collection.mutable.Set.from(dvFiles(root, vs.head))
      ((vs.head + 1) to vs.last).foreach { v =>
        base ++= commitDeltaFull(root, v).dvAdds.map(_.path)
      }
      base.toSet
    }
  }

  /** The files a replayed batch already committed (via ANY surviving
    * version — not just the latest: a compaction may have dropped the
    * batch from the live version while an older version still time-
    * travels to it, and rewriting the dir would tear that snapshot). */
  private def committedBatchFiles(root: String, batch: String): Seq[String] = {
    // cheap absence proof first: a manifest can only reference files
    // that were staged, so a batch whose data dir does not exist was
    // never committed (or was expired — and expire removes the
    // manifests referencing it BEFORE its files, so "committed" is
    // false then too). This keeps the COMMON case — a genuinely new
    // batch — at one existence probe; the union scan (ONE checkpoint
    // resolution + the add-lines of the surviving deltas, never a walk
    // of every version's full list) runs only for dirs that do exist
    // (replays and crash leftovers). Corollary, same as every table
    // format's vacuum contract: expiry retention must exceed the
    // redelivery horizon, or a replayed expired batch re-lands.
    val dir = new Path(s"$root/data/$batch")
    if (!fsFor(dir).exists(dir)) Seq.empty
    else {
      val marker = s"/data/$batch/"
      survivingUnion(root).filter(_.contains(marker)).toSeq.sorted
    }
  }

  /** True when any surviving version references the batch's data dir. */
  def isBatchCommitted(root: String, batch: String): Boolean =
    committedBatchFiles(root, batch).nonEmpty

  /** Write `df` as an immutable data batch under the table root;
    * returns the batch's data-file paths (sorted, absolute). If the
    * batch is already referenced by a surviving version (an
    * at-least-once replay after a crash between commit and checkpoint),
    * the data is NOT rewritten — the committed file list is returned —
    * because committed files are immutable: a rewrite would replace
    * them with new part names and break every version (including time
    * travel) that lists the old ones. An UNcommitted leftover dir (a
    * crash mid-write, before any manifest referenced it) is rewritten. */
  def writeData(df: DataFrame, root: String, batch: String): Seq[String] = {
    val already = committedBatchFiles(root, batch)
    if (already.nonEmpty) already
    else {
      val path = s"$root/data/$batch"
      df.write.mode("overwrite").parquet(path)
      listDataFiles(path)
    }
  }

  /** `part-*.parquet` files under `path` with their sizes, recursing
    * into hive-style partition subdirectories (`col=value/...`) — one
    * listing walk, no per-file getFileStatus (listStatus already
    * carries lengths). */
  def listDataEntries(path: String): Seq[(String, Long)] = {
    val p = new Path(path)
    val fs = fsFor(p)
    def walk(dir: Path): Seq[(String, Long)] =
      fs.listStatus(dir).toSeq.flatMap { st =>
        if (st.isDirectory && !st.getPath.getName.startsWith(".") &&
            !st.getPath.getName.startsWith("_")) walk(st.getPath)
        else if (st.isFile && st.getPath.getName.startsWith("part-") &&
            st.getPath.getName.endsWith(".parquet"))
          Seq(st.getPath.toString -> st.getLen)
        else Seq.empty
      }
    if (!fs.exists(p)) Seq.empty else walk(p).sortBy(_._1)
  }

  def listDataFiles(path: String): Seq[String] =
    listDataEntries(path).map(_._1)

  /** Total on-disk bytes of the LIVE snapshot's data files — exactly
    * the resolved files, from the log-carried sizes (a filesystem probe
    * only for path-only legacy entries), so expired/superseded
    * generations don't inflate size-gated decisions
    * (broadcast-vs-join thresholds). */
  def liveDataBytes(root: String): Long =
    latestVersionOption(root)
      .map(v => manifestEntries(root, v).map(entryBytes).sum).getOrElse(0L)

  /** An entry's on-disk bytes: the log-carried size, or a filesystem
    * probe for a path-only entry. */
  private[sources] def entryBytes(e: FileEntry): Long =
    if (e.size >= 0) e.size
    else { val p = new Path(e.path); fsFor(p).getFileStatus(p).getLen }

  /** Try to publish exactly version `v` as a DELTA commit (`adds`
    * joined, `removes` dropped, relative to v−1). Returns false
    * (leaving no residue) when `v` is already taken — the caller's cue
    * to re-read the latest state and retry at the next version
    * ([[commitLoop]]). The publish is tmp-write + an exclusive
    * publish ([[AtomicPublish]]), so a reader never observes a
    * partially written manifest and two committers never both land on
    * `v` — across threads AND processes. The winner writes a full
    * checkpoint every [[checkpointEvery]] versions (losing a checkpoint
    * race, or crashing before it, is harmless — checkpoints are derived
    * data and readers just replay more deltas). */
  def tryCommit(root: String, v: Int,
                adds: Seq[String], removes: Seq[String]): Boolean =
    tryCommitEntries(root, v, adds.map(FileEntry(_)), removes)

  /** [[tryCommit]] with the full per-file metadata record — sizes,
    * typed stats, the batch's schema and the table's partition spec —
    * so a later reader PLANS from the log alone. */
  private[sources] def tryCommitEntries(
      root: String, v: Int,
      adds: Seq[FileEntry], removes: Seq[String],
      dvAdds: Seq[FileEntry] = Seq.empty, dvReset: Boolean = false,
      schemaJson: Option[String] = None,
      partJson: Option[String] = None,
      dvRemoves: Seq[String] = Seq.empty,
      props: Option[Map[String, String]] = None,
      schemaSet: Boolean = false,
      loaded: Seq[String] = Seq.empty): Boolean = {
    val mdir = manifestDir(root)
    val fs = fsFor(mdir)
    if (!fs.exists(mdir)) fs.mkdirs(mdir)
    val body = ((if (dvReset) Seq("X\tdvreset") else Seq.empty) ++
      (if (schemaSet) Seq("X\tschemaset") else Seq.empty) ++
      removes.map("R\t" + _) ++ adds.map(e => "A\t" + encodeEntry(e)) ++
      dvRemoves.map("W\t" + _) ++
      dvAdds.map(e => "V\t" + encodeEntry(e)) ++
      schemaJson.map(j => "S\t" + b64(j)).toSeq ++
      partJson.map(j => "P\t" + b64(j)).toSeq ++
      props.map(m => "K\t" + encodeProps(m)).toSeq ++
      loaded.map(f => "L\t" + b64(f)))
      .mkString("\n") + "\n"
    val won = publishUtf8(fs, commitPath(root, v), body) && !withdrawnBelowFloor(root, v)
    if (won && v == 1) {
      // a table RECREATED at a root a previous table lived at (delete +
      // re-commit from version 1) must not serve the dead table's
      // cached commit content — same-numbered commit files would pass
      // commitExists against the new table (the caches are otherwise
      // sound because published commits are immutable)
      deltaCache.keySet.removeIf(_._1 == root)
      checkpointCache.keySet.removeIf(_._1 == root)
      logHints.remove(root)
    }
    if (won)
      logHints.merge(root, LogHint(v, Vector.empty), (a, b) =>
        LogHint(math.max(a.latest, b.latest), a.checkpoints))
    if (won && v % checkpointEvery == 0) writeCheckpoint(root, v)
    won
  }

  /** Withdraw a publish at `v` into a slot [[expire]] freed: another
    * commit won `v`, newer ones followed, and an expire deleted the log
    * below a floor checkpoint that never folds this commit. Expire
    * deletes oldest first, so commit `v - 1` is gone (one probe); a
    * floor checkpoint AT `v` is the sound way for it to be gone (a later
    * expire folded this commit). Only an expire that also drops `v`
    * between the publish and the probe would be taken for a freed slot.
    * A withdrawn publish reads as a lost race: the caller's CAS loop
    * retries at latest + 1. */
  private def withdrawnBelowFloor(root: String, v: Int): Boolean = {
    val expired = v > 1 && !commitExists(root, v - 1) && !checkpointExists(root, v)
    if (expired) { val p = commitPath(root, v); fsFor(p).delete(p, false) }
    expired
  }

  /** THE optimistic commit loop: every catalog write past version 1
    * publishes through it (the Delta `OptimisticTransaction.commit`
    * shape). Each attempt reads the latest version `v` (0 before the
    * first commit) and runs `step(v)`, which re-checks the op against
    * `v` — throwing to refuse — and tries to publish `v + 1`:
    * `Some(result)` ends the loop (a win, or a no-op), `None` is a lost
    * race, retried against the new latest. After 100 lost races the op
    * gives up.
    *
    * An op that ends without publishing — a refusal or the give-up —
    * deletes what it staged: its DV batch `dv` and its data batch
    * `batch` ([[discardStaged]] keeps any that a version references). A
    * non-race IOException (a store outage) aborts at once and keeps
    * them: the publish may have won before its checkpoint write threw. */
  private[sources] def commitLoop[A](op: String, root: String,
                                     dv: Option[StagedDv] = None,
                                     batch: Option[String] = None)(
                                     step: Int => Option[A]): A = {
    var attempt = 0
    while (attempt < 100) {
      val v = latestVersionOption(root).getOrElse(0)
      val result =
        try step(v)
        catch {
          case e: java.io.IOException => throw e
          case e: Exception => discardStaged(root, dv, batch); throw e
        }
      result match {
        case Some(a) => return a
        case None => attempt += 1
      }
    }
    discardStaged(root, dv, batch)
    sys.error(s"$op on $root lost 100 consecutive CAS races")
  }

  /** Write the full-state checkpoint for `v`: the resolved data-file
    * ENTRIES (path + size + stats, so planning needs no per-file RPCs),
    * the in-effect DV entries as `V` lines, and the resolved schema /
    * partition-spec metadata as `S`/`P` lines (idempotent; losing a
    * publish race to an identical checkpoint is a no-op). */
  private def writeCheckpoint(root: String, v: Int): Unit = {
    val dest = checkpointPath(root, v)
    val fs = fsFor(dest)
    if (!fs.exists(dest)) {
      val props = propertiesAt(root, v)
      val lines = manifestEntries(root, v).map(encodeEntry) ++
        dvEntries(root, v).map(e => "V\t" + encodeEntry(e)) ++
        schemaAt(root, v).map(s => "S\t" + b64(s.json)).toSeq ++
        partitionSpecAt(root, v).map(s => "P\t" + b64(s.json)).toSeq ++
        (if (props.isEmpty) Seq.empty else Seq("K\t" + encodeProps(props))) ++
        loadedFilesAt(root, v).toSeq.sorted.map(f => "L\t" + b64(f))
      publishUtf8(fs, dest, lines.mkString("\n") + "\n")
      logHints.merge(root, LogHint(v, Vector(v)), (a, b) =>
        LogHint(math.max(a.latest, b.latest),
          if (a.checkpoints.contains(v)) a.checkpoints
          else (a.checkpoints :+ v).sorted))
      ()
    }
  }

  // ---- log-carried schema & partition-spec metadata -------------------

  import org.apache.spark.sql.types.{DataType, StructType}

  private def parseSchema(json: String): Option[StructType] =
    try DataType.fromJson(json) match {
      case s: StructType => Some(s)
      case _ => None
    } catch { case _: Exception => None }

  /** Union-by-name, appended columns last (the Iceberg/Delta schema-
    * accretion shape). None on a dataType conflict — the caller falls
    * back to footer-derived schema, keeping the log metadata an
    * optimization rather than a gate. All fields read back nullable
    * (parquet serving null-fills accreted columns in pre-evolution
    * files, and Spark's parquet reads are nullable regardless). */
  private def unionByName(a: StructType, b: StructType): Option[StructType] = {
    val byName = a.fields.map(f => f.name -> f).toMap
    val conflict = b.fields.exists(f =>
      byName.get(f.name).exists(_.dataType != f.dataType))
    if (conflict) None
    else Some(StructType(
      a.fields ++ b.fields.filterNot(f => byName.contains(f.name))))
  }

  /** The table schema at version `v`, resolved from the log's `S`
    * lines alone: a replace's schema REPLACES (the rewrite defines the
    * content outright), an append's UNIONS by name (src08/src16 column
    * accretion). None when any live data commit predates schema
    * recording (path-only compatibility commits) — callers then derive
    * schema from footers exactly as before. Returned nullable-
    * normalized (see [[unionByName]]). */
  def schemaAt(root: String, v: Int): Option[StructType] = {
    val cp = checkpointAtOrBelow(root, v)
    var known = true
    var schema: Option[StructType] = None
    cp.foreach { c =>
      val st = readCheckpoint(root, c)
      st.schemaJson.flatMap(parseSchema) match {
        case s @ Some(_) => schema = s
        case None =>
          // a legacy checkpoint that carries files but no schema line
          // leaves the schema unknown; an EMPTY legacy checkpoint does
          // not (nothing was committed yet)
          if (st.entries.nonEmpty) known = false
      }
    }
    ((cp.getOrElse(0) + 1) to v).foreach { cv =>
      if (known && commitExists(root, cv)) {
        val d = commitDeltaFull(root, cv)
        d.schemaJson.flatMap(parseSchema) match {
          case Some(s) =>
            if (d.removes.nonEmpty || d.dvReset || d.schemaSet) schema = Some(s)
            else schema match {
              case None => schema = Some(s)
              case Some(prev) => unionByName(prev, s) match {
                case u @ Some(_) => schema = u
                case None => known = false // type conflict: footer fallback
              }
            }
          case None => if (d.adds.nonEmpty) known = false
        }
      }
    }
    if (known) schema.map(s => StructType(s.fields.map(_.copy(nullable = true))))
    else None
  }

  /** The hive-style partition spec at version `v` (column names +
    * types, from the log's `P` lines): the latest data-defining
    * commit's spec wins — a REPLACE-shaped commit (removes/dvReset)
    * without one resets the table to unpartitioned (its rewrite
    * defined the layout outright), while an adds-only commit without a
    * P line CARRIES the current spec forward: a legacy path-only
    * append ([[tryCommit]]/[[commitRetry]]) onto a partitioned table
    * must not silently flatten the spec — its flat-laid files then
    * serve null partition values (visible, auditable) instead of the
    * whole table losing the partition column's values (hive-laid data
    * files don't contain it). DV-only commits leave the spec
    * untouched. None = unpartitioned. [[append]]/[[replace]] enforce
    * spec consistency at write time, so a resolved spec describes
    * every catalog-written live file's directory layout. */
  def partitionSpecAt(root: String, v: Int): Option[StructType] = {
    val cp = checkpointAtOrBelow(root, v)
    var spec: Option[StructType] =
      cp.flatMap(c => readCheckpoint(root, c).partJson).flatMap(parseSchema)
    ((cp.getOrElse(0) + 1) to v).foreach { cv =>
      if (commitExists(root, cv)) {
        val d = commitDeltaFull(root, cv)
        val declared = d.partJson.flatMap(parseSchema)
        if (d.removes.nonEmpty || d.dvReset) spec = declared
        else if (declared.isDefined && d.dvAdds.isEmpty && d.dvRemoves.isEmpty)
          spec = declared // append — or a metadata-only CREATE TABLE commit
      }
    }
    spec
  }

  // ---- log-carried table properties -----------------------------------

  /** Properties map as a tab-free line: `;`-joined `b64(k):b64(v)`
    * cells (same alphabet discipline as [[encodeEntry]]'s stats). */
  private def encodeProps(m: Map[String, String]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) => s"${b64(k)}:${b64(v)}" }
      .mkString(";")

  private def decodeProps(enc: String): Map[String, String] =
    if (enc.isEmpty) Map.empty
    else enc.split(";").iterator.filter(_.nonEmpty).map { cell =>
      val Array(k, v) = cell.split(":", 2)
      unb64(k) -> unb64(v)
    }.toMap

  /** The table properties at version `v` (the Delta TBLPROPERTIES
    * shape): a commit's `K` line REPLACES the whole map; commits
    * without one — including replaces — carry it forward (Delta keeps
    * properties across rewrites). Constraints live here under
    * `graft.constraints.<name>` (Delta's encoding), dropped-column
    * tombstones under `graft.dropped.<name>`. */
  def propertiesAt(root: String, v: Int): Map[String, String] = {
    val cp = checkpointAtOrBelow(root, v)
    var props: Map[String, String] =
      cp.flatMap(c => readCheckpoint(root, c).propsEnc)
        .map(decodeProps).getOrElse(Map.empty)
    ((cp.getOrElse(0) + 1) to v).foreach { cv =>
      if (commitExists(root, cv))
        commitDeltaFull(root, cv).propsEnc.foreach(e => props = decodeProps(e))
    }
    props
  }

  /** The LIVE table's properties (empty for a non-table root). */
  def properties(root: String): Map[String, String] =
    latestVersionOption(root).map(propertiesAt(root, _)).getOrElse(Map.empty)

  /** Read-modify-write the table's properties as one metadata-only
    * commit: `edit(v, props)` maps version `v`'s properties to the new
    * full map inside every attempt of [[commitLoop]], against the
    * version the commit follows — so a racing property commit is
    * re-read, never overwritten by a stale map. `edit` refuses by
    * throwing. Returns the committed version. */
  def updateProperties(root: String)(
      edit: (Int, Map[String, String]) => Map[String, String]): Int =
    commitLoop("updateProperties", root) { v =>
      if (v == 0) noTable(root)
      Option.when(tryCommitEntries(root, v + 1, adds = Seq.empty,
        removes = Seq.empty, props = Some(edit(v, propertiesAt(root, v)))))(v + 1)
    }

  /** The CHECK constraints in force: name → SQL expression text
    * (properties under the `graft.constraints.` namespace). */
  def constraintsOf(props: Map[String, String]): Map[String, String] =
    props.collect { case (k, v) if k.startsWith("graft.constraints.") =>
      k.stripPrefix("graft.constraints.") -> v }

  /** Wrap `df` so every row is validated against the table's CHECK
    * constraints IN THE SAME PASS that writes it (the Delta invariant-
    * checker shape, expressed Spark-first): each constraint becomes a
    * `Filter(cond OR raise_error(...))` — short-circuit `OR` means a
    * passing row never evaluates the error side, a failing row aborts
    * the write with the constraint name and the row's values, and the
    * filter is not prunable (it changes semantics), so codegen keeps
    * it fused into the write stage. O(0) extra passes at any scale. */
  private def withConstraintChecks(df: DataFrame, root: String,
      overrideCons: Option[Map[String, String]]): DataFrame = {
    import org.apache.spark.sql.functions.{coalesce, concat_ws, expr, lit, raise_error, struct}
    val cons = overrideCons.getOrElse(latestVersionOption(root)
      .map(v => constraintsOf(propertiesAt(root, v)))
      .getOrElse(Map.empty))
    cons.toSeq.sortBy(_._1).foldLeft(df) { case (d, (name, cond)) =>
      // SQL CHECK semantics: a row violates only when the condition is
      // FALSE — UNKNOWN (null) passes, hence the coalesce(…, true)
      d.filter(coalesce(expr(cond), lit(true)).or(
        raise_error(concat_ws("", lit(s"CHECK constraint $name ($cond) " +
          "violated by row: "), struct(d.columns.map(d.col): _*).cast("string")))
          .cast("boolean")))
    }
  }

  /** `ALTER TABLE … ADD CONSTRAINT name CHECK (cond)` — the Delta
    * shape: existing rows are validated in ONE pass over the live
    * snapshot (a violation refuses and commits nothing), then the
    * constraint lands as one metadata-only properties commit. The
    * validate-then-commit pair is CAS-exact: a concurrent commit
    * between the scan and the publish re-validates (its rows were not
    * scanned). Every later write enforces the constraint in its own
    * write pass ([[withConstraintChecks]]). */
  def addConstraint(spark: SparkSession, root: String,
                    name: String, cond: String): Int = {
    import org.apache.spark.sql.functions.{coalesce, expr, lit, not}
    require(name.matches("[A-Za-z_][A-Za-z0-9_]*"),
      s"constraint name must be an identifier, got '$name'")
    val key = s"graft.constraints.$name"
    updateProperties(root) { (v, props) =>
      if (props.contains(key))
        sys.error(s"constraint $name already exists on $root " +
          s"(${props(key)}); DROP CONSTRAINT first")
      val violations = SnapshotFileIndex
        .snapshotDF(spark, root, Some(v), subtractDeletes = true)
        .filter(not(coalesce(expr(cond), lit(true))))
        .limit(1).count()
      if (violations > 0)
        sys.error(s"cannot ADD CONSTRAINT $name CHECK ($cond) on $root: " +
          "existing rows violate it")
      props + (key -> cond)
    }
  }

  /** Drop a CHECK constraint (metadata-only properties commit);
    * unknown names refuse loudly (the Delta behavior). */
  def dropConstraint(root: String, name: String): Int = {
    val key = s"graft.constraints.$name"
    updateProperties(root) { (_, props) =>
      if (!props.contains(key))
        sys.error(s"no constraint named $name on $root")
      props - key
    }
  }

  /** Commit `files` as the complete next snapshot, CAS-retrying past
    * version collisions (two racing committers both succeed, on
    * consecutive versions). Returns the committed version. Use
    * [[commitRetry]] instead when the new snapshot DERIVES from the
    * previous one (append/replace) — a plain retry of a stale file
    * list would silently drop the racing committer's files. */
  def commit(root: String, files: Seq[String]): Int =
    commitRetry(root)(_ => files)

  /** Commit the snapshot `delta(prevFiles)` computes FROM the current
    * latest: each [[commitLoop]] attempt publishes the O(changed-files)
    * difference at latest+1, re-applying the delta to a new latest on
    * collision — so concurrent appenders serialize without losing each
    * other's files. Returns the committed version. */
  def commitRetry(root: String)(delta: Seq[String] => Seq[String]): Int =
    commitLoop("commit", root) { pv =>
      val prev = if (pv == 0) Seq.empty else manifestFiles(root, pv)
      val next = delta(prev).distinct.sorted
      val prevSet = prev.toSet
      val nextSet = next.toSet
      Option.when(tryCommit(root, pv + 1,
        adds = next.filterNot(prevSet), removes = prev.filterNot(nextSet)))(pv + 1)
    }

  /** The spec guard of [[append]] and [[replacePartitions]], checked in
    * every attempt: a batch was STAGED for partition spec `staged`, so
    * it may only land on a version `v` with that spec — a concurrent
    * replace that moved it would leave a mixed hive/flat layout (and
    * give [[replacePartitions]] the wrong partition identity). A root
    * with no version yet (v = 0) takes any spec. */
  private def requireStagedSpec(op: String, root: String, v: Int,
                                staged: Option[StructType]): Unit =
    if (v > 0) {
      val cur = partitionSpecAt(root, v).map(specShape)
      if (cur != staged.map(specShape))
        throw new java.util.ConcurrentModificationException(
          s"$op on $root: the table's partition spec moved under the op " +
            s"(staged ${staged.map(specShape)}, now $cur) — restage " +
            "against the new spec")
    }

  /** A partition spec's identity for consistency checks: field names +
    * types, nullability normalized away (parquet reads everything
    * nullable). Matching NAMES only would let an append re-declare a
    * partition column at a different type and corrupt the directory-
    * value casting every later read performs. */
  private def specShape(s: StructType): Seq[(String, DataType)] =
    s.fields.toSeq.map(f => (f.name, f.dataType))

  /** Stage `df` as an immutable batch and build its log record: file
    * entries (path + size from the ONE directory listing the write
    * already implies + per-column typed stats from ONE footer pass),
    * the batch's schema JSON, and the partition-spec JSON when
    * `partitionBy` is set (hive-style `col=value` layout). Everything
    * planning needs lands IN the commit — a reader never probes the
    * staged files again. */
  private[sources] def stageBatch(df0: DataFrame, root: String, batch: String,
                                  partitionBy: Seq[String], recordStats: Boolean,
                                  constraintsOverride: Option[Map[String, String]] = None)
      : (Seq[FileEntry], Option[String], Option[String]) = {
    // CHECK constraints ride the write pass itself (one filter with a
    // raise_error arm — no second scan); every DML path that lands data
    // funnels through here, so enforcement is a single seam. A staged
    // CTAS/RTAS has no committed version carrying ITS declared
    // constraints yet — the staging table passes them explicitly via
    // `constraintsOverride` so version 1 cannot publish rows violating
    // the very constraints it publishes alongside them.
    val df = withConstraintChecks(df0, root, constraintsOverride)
    val path = s"$root/data/$batch"
    val w = df.write.mode("overwrite")
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
      .parquet(path)
    val sized = listDataEntries(path)
    val meta: Map[String, (Long, Map[String, (String, String, String)])] =
      if (recordStats)
        footerStats(sized.map(_._1)).map { case (f, n, st) => f -> (n, st) }.toMap
      else Map.empty
    val entries = sized.map { case (f, sz) =>
      val (n, st) = meta.getOrElse(f, (-1L, Map.empty[String, (String, String, String)]))
      FileEntry(f, sz, n, st) }
    val partJson =
      if (partitionBy.isEmpty) None
      else Some(StructType(partitionBy.map(c => df.schema(c)).toArray).json)
    (entries, Some(df.schema.json), partJson)
  }

  /** Append `df` as a new batch: its files join the previous snapshot's
    * (file-level reuse; the commit records ONLY the new files, WITH
    * their sizes and per-column min/max stats unless `recordStats` is
    * false — the planning metadata [[SnapshotFileIndex]] serves from).
    * `partitionBy` lays the batch out hive-style and records the
    * partition spec in the log; it must match the table's current spec
    * (a mixed layout would make partition pruning unsound). Replay-
    * idempotent: a batch name a surviving version already references
    * commits nothing and returns the current latest version. Returns
    * the (possibly new) version. */
  def append(df: DataFrame, root: String, batch: String,
             recordStats: Boolean = true,
             partitionBy: Seq[String] = Seq.empty): Int = {
    if (isBatchCommitted(root, batch)) latestVersion(root)
    else {
      // dropped-column tombstones: an append re-introducing a dropped
      // name would union it back into the served schema and RESURRECT
      // the dropped data from pre-drop files (no column-mapping
      // physical ids) — refuse; a full replace() clears the tombstone
      val tombProps = properties(root)
      df.columns.filter(c => tombProps.contains(s"graft.dropped.$c")) match {
        case Array() => ()
        case tomb => sys.error(s"append on $root: column(s) " +
          s"${tomb.mkString(", ")} were DROPPED from the table — " +
          "appending the name would resurrect dropped data; REPLACE the " +
          "table to rewrite first")
      }
      // FULL-SHAPE spec check (names AND types): a same-named partition
      // column at a different type would corrupt the directory-value
      // casting downstream even though the layout looks consistent
      val staged: Option[StructType] =
        if (partitionBy.isEmpty) None
        else Some(StructType(partitionBy.map(c => df.schema(c)).toArray))
      latestVersionOption(root).foreach { v =>
        val cur = partitionSpecAt(root, v).map(specShape)
        if (cur != staged.map(specShape))
          sys.error(s"append on $root: partitionBy ${staged.map(specShape)} " +
            s"does not match the table's committed partition spec $cur — a " +
            "mixed layout (or a re-typed partition column) would break " +
            "hive-style pruning; replace() to change it")
      }
      val (entries, schemaJson, partJson) =
        stageBatch(df, root, batch, partitionBy, recordStats)
      val adds = entries.distinct.sortBy(_.path)
      // pure adds, resolving no previous version: the files live in a
      // fresh batch dir, disjoint from every prior version — a streaming
      // ingest's commit cost stays flat in table size
      commitLoop("append", root, batch = Some(batch)) { pv =>
        requireStagedSpec("append", root, pv, staged)
        Option.when(tryCommitEntries(root, pv + 1, adds = adds,
          removes = Seq.empty, schemaJson = schemaJson,
          partJson = partJson))(pv + 1)
      }
    }
  }

  /** Replace the table's LIVE content with `df` (compaction, retraction,
    * fold-rewrite): the new version references ONLY the new batch's
    * files (the commit removes every previous file and adds the new
    * generation's — O(live files), inherent to a rewrite); prior
    * versions keep time-traveling to the old files until [[expire]].
    * A rewrite is exactly when stats get TIGHT (a clustered layout's
    * per-file ranges are the point), so the new generation's entries
    * carry fresh stats. A replace may CHANGE the partition spec — it
    * defines the layout outright. Replay-idempotent like [[append]].
    * Returns the version. */
  def replace(df: DataFrame, root: String, batch: String,
              recordStats: Boolean = true,
              partitionBy: Seq[String] = Seq.empty): Int = {
    if (isBatchCommitted(root, batch)) latestVersion(root)
    else {
      val (entries, schemaJson, partJson) =
        stageBatch(df, root, batch, partitionBy, recordStats)
      commitLoop("replace", root, batch = Some(batch)) { pv =>
        Option.when(tryReplaceAt(root, pv, entries, schemaJson, partJson,
          df.columns.toSeq))(pv + 1)
      }
    }
  }

  /** One attempt of a replace's commit at `pv + 1` — [[replace]]'s, and
    * the staged SQL `REPLACE TABLE … AS SELECT`'s: the staged `entries`
    * become the whole live content, with the batch's schema and
    * partition spec. Inherited deletion vectors stop applying (their
    * row positions index the files the rewrite supersedes). The rewrite
    * physically removed any dropped column from the live files, so the
    * `graft.dropped.` tombstones of `columns` clear; `editProps` edits
    * the carried properties further. True on the win. */
  private[sources] def tryReplaceAt(
      root: String, pv: Int, entries: Seq[FileEntry],
      schemaJson: Option[String], partJson: Option[String],
      columns: Seq[String],
      editProps: Map[String, String] => Map[String, String] = identity)
      : Boolean = {
    val prev = if (pv == 0) Seq.empty else manifestFiles(root, pv)
    val prevSet = prev.toSet
    val next = entries.distinct.sortBy(_.path)
    val nextPaths = next.map(_.path).toSet
    val props0 = if (pv == 0) Map.empty[String, String]
      else propertiesAt(root, pv)
    val props = editProps(props0.filterNot { case (k, _) =>
      k.startsWith("graft.dropped.") &&
        columns.contains(k.stripPrefix("graft.dropped.")) })
    tryCommitEntries(root, pv + 1,
      adds = next.filterNot(e => prevSet(e.path)),
      removes = prev.filterNot(nextPaths), dvReset = true,
      schemaJson = schemaJson, partJson = partJson,
      props = if (props != props0) Some(props) else None)
  }

  /** The hive-style `col=value` segments in a staged file's path, in
    * directory order — the partition identity [[replacePartitions]]
    * matches on (raw segments: both sides are written by the same
    * writer with the same escaping, so no decode is needed). Only the
    * CONTIGUOUS trailing run of `=`-bearing directories counts —
    * partition dirs sit directly above the file, so an `x=y` segment
    * somewhere in the table root can never leak into the identity. */
  private def partitionVecOf(path: String): Seq[String] =
    path.split('/').dropRight(1).reverse.takeWhile(_.contains('=')).reverse.toSeq

  /** DYNAMIC PARTITION OVERWRITE through the catalog — src10's
    * semantics (a correction batch re-lands exactly its touched
    * partitions) under snapshot isolation: `updates` is laid out per
    * the table's committed partition spec, and ONE commit removes
    * every live file in the partitions `updates` touches while adding
    * the new files. Untouched partitions keep their very files
    * (reused by the new version — O(touched partitions), never a
    * table rewrite), prior versions time-travel to the pre-correction
    * content, and the change feed refuses across it like any rewrite.
    * Deletion vectors on untouched files stay in effect; DV positions
    * into replaced files are withdrawn ([[relandDvs]]). Last-writer-wins
    * per partition: the remove set is recomputed from the latest
    * version on every CAS attempt, so a
    * racing append into a touched partition is superseded — the
    * overwrite DEFINES those partitions' content (Spark's dynamic
    * overwrite contract). Returns (version, touched partitions). */
  def replacePartitions(spark: SparkSession, root: String,
                        updates: DataFrame, batch: String): (Int, Int) = {
    if (isBatchCommitted(root, batch)) return (latestVersion(root), 0)
    val spec = partitionSpecAt(root, latestVersion(root)).getOrElse(
      sys.error(s"replacePartitions on $root: table has no partition spec — " +
        "use replace() for whole-table rewrites"))
    val cols = spec.fieldNames.toSeq
    val (entries, _, partJson) =
      stageBatch(updates, root, batch, cols, recordStats = true)
    val touched: Set[Seq[String]] =
      entries.map(e => partitionVecOf(e.path)).toSet
    commitLoop("replacePartitions", root, batch = Some(batch)) { pv =>
      if (pv == 0) noTable(root)
      requireStagedSpec("replacePartitions", root, pv, Some(spec))
      val removes = manifestEntries(root, pv).collect {
        case e if touched.contains(partitionVecOf(e.path)) => e.path }
      // a PARTIAL rewrite must not narrow the served schema: untouched
      // partitions' live files still carry every accreted column, so
      // the commit's S line is the UNION of the table schema and the
      // updates schema (replace-shaped commits REPLACE schema — raw
      // updates.schema would silently drop a column the correction
      // batch happens to lack). A dataType conflict refuses outright.
      val schemaJson = schemaAt(root, pv) match {
        case None => Some(updates.schema.json)
        case Some(ts) => unionByName(ts, updates.schema) match {
          case Some(u) => Some(u.json)
          case None => sys.error(s"replacePartitions on $root: updates " +
            "re-type an existing column — a partial rewrite cannot change " +
            "a column's type while untouched partitions keep the old one")
        }
      }
      // DV positions into the replaced files would DANGLE: harmless to
      // serving (they match no served row) but they inflate the
      // threshold-OPTIMIZE decision's deleted-fraction/DV-bytes reads
      // (a big overwrite could trigger a spurious compaction). The
      // commit already knows the removed set, so restructure the DV
      // side here ([[relandDvs]]): withdraw every in-effect DV entry
      // (`W` lines) and re-land only the positions referencing
      // SURVIVING files — O(deleted rows), paid by the op that created
      // the dangling.
      val dvsInEffect = dvEntries(root, pv)
      val reland =
        if (dvsInEffect.isEmpty) None
        else {
          val removedUri = removes.map(f => new Path(f).toUri.getPath).toSet
          val refd = dvBearingFiles(spark, dvsInEffect)
          val surviving = refd.filterNot(f =>
            removedUri.contains(new Path(f).toUri.getPath))
          if (surviving.length == refd.length) None // nothing dangles
          else Some(relandDvs(spark, root, dvsInEffect, surviving))
        }
      if (tryCommitEntries(root, pv + 1,
            adds = entries.distinct.sortBy(_.path), removes = removes,
            dvAdds = reland.toSeq.flatMap(_.entries),
            dvRemoves = if (reland.isDefined) dvsInEffect.map(_.path) else Seq.empty,
            schemaJson = schemaJson, partJson = partJson))
        Some((pv + 1, touched.size))
      else {
        // the lost attempt's re-land batch will never be referenced
        reland.foreach(_.discard())
        None
      }
    }
  }

  /** RESTORE the table to an earlier surviving version (the Delta
    * `RESTORE TABLE ... TO VERSION AS OF` verb): ONE metadata-only
    * commit whose delta makes the LIVE content identical to version
    * `toVersion`'s — its data files re-referenced (they still exist:
    * expiry only GCs files no surviving version references), its
    * deletion vectors re-landed after a reset, its schema and
    * partition spec re-declared. History is preserved — the restore is
    * a NEW version (the botched versions in between still time-travel,
    * exactly Delta's semantics), and the change feed refuses across it
    * like any rewrite (removes + DV reset). O(live files) manifest
    * lines, zero data IO. Returns the restoring commit's version. */
  def restore(root: String, toVersion: Int): Int = {
    if (!versions(root).contains(toVersion))
      sys.error(s"restore on $root: version $toVersion is not a " +
        s"surviving version (surviving: ${versions(root).mkString(", ")})")
    val target = manifestEntries(root, toVersion)
    val targetPaths = target.map(_.path).toSet
    val targetDvs = dvEntries(root, toVersion)
    val schemaJson = schemaAt(root, toVersion).map(_.json)
    val partJson = partitionSpecAt(root, toVersion).map(_.json)
    // properties restore WITH the files/schema: leaving the current
    // props in place would e.g. keep a post-`toVersion` DROP COLUMN's
    // graft.dropped tombstone refusing appends of a column the
    // restored schema serves, and keep constraints added after
    // `toVersion` enforcing against pre-constraint data
    val targetProps = propertiesAt(root, toVersion)
    commitLoop("restore", root) { pv =>
      if (pv == 0) noTable(root)
      if (pv == toVersion) Some(pv) // already the live content
      else {
        val cur = manifestFiles(root, pv)
        val curSet = cur.toSet
        Option.when(tryCommitEntries(root, pv + 1,
          adds = target.filterNot(e => curSet(e.path)),
          removes = cur.filterNot(targetPaths).sorted,
          dvAdds = targetDvs, dvReset = true,
          schemaJson = schemaJson, partJson = partJson,
          props = Some(targetProps)))(pv + 1)
      }
    }
  }

  /** Snapshot expiry / GC — the maintenance job every table format
    * ships separately. Keeps the newest `keepLast` versions AND every
    * version younger than `minAgeMs` (the vacuum-retention window: an
    * in-flight reader that resolved a version just before a rewrite
    * committed must get to finish — back-to-back maintenance ops with
    * a bare keepLast could GC the version it is reading). Removal
    * order: (1) checkpoint the new oldest surviving version, so it
    * stays resolvable once older deltas are gone; (2) delete the
    * expired manifests — after which no new reader can resolve those
    * versions; (3) delete the data files referenced by no surviving
    * version; (4) remove batch dirs left empty. A crash between (2)
    * and (3) leaves only unreferenced-but-present files — re-running
    * expire (or [[sweepOrphans]]) collects them; the reverse order
    * would leave surviving versions pointing at deleted files. Returns
    * (expired version count, deleted data file count). */
  def expire(root: String, keepLast: Int, minAgeMs: Long = 0L,
             dryRun: Boolean = false): (Int, Int) = {
    require(keepLast >= 1, "must keep at least the latest version")
    val vs = versions(root)
    val cutoff = System.currentTimeMillis() - minAgeMs
    def oldEnough(v: Int): Boolean = minAgeMs <= 0L || {
      val p = commitPath(root, v)
      val fs = fsFor(p)
      !fs.exists(p) || fs.getFileStatus(p).getModificationTime < cutoff
    }
    // droppable versions form a PREFIX: a version cannot expire while
    // an older one survives (resolution folds forward from a checkpoint)
    val drop = vs.dropRight(keepLast).takeWhile(oldEnough)
    if (drop.isEmpty) (0, 0)
    else {
      val keep = vs.drop(drop.size)
      val vMin = keep.head
      // union over DROPPED versions − union over KEPT versions
      val keptLive = {
        val base = collection.mutable.Set.from(manifestFiles(root, vMin))
        ((vMin + 1) to keep.last).foreach(v => base ++= commitDelta(root, v)._1)
        base.toSet
      }
      val droppedUnion = {
        // a crash mid-expire can leave the oldest dropped versions
        // partially GC'd (their commit files deleted); re-running must
        // not fail on them — start the union from the oldest STILL
        // RESOLVABLE dropped version. Any dead file known only to an
        // unresolvable version is leaked to [[sweepOrphans]] (it is in
        // no surviving manifest), never mis-kept as live.
        val acc = collection.mutable.Set.empty[String]
        var haveBase = false
        drop.foreach { v =>
          if (!haveBase) {
            try { acc ++= manifestFiles(root, v); haveBase = true }
            catch { case _: RuntimeException => () }
          } else if (commitExists(root, v)) acc ++= commitDelta(root, v)._1
        }
        acc.toSet
      }
      // deletion-vector files follow the same union lemma: in-effect-at
      // any version v ≥ base ⊆ dvFiles(base) ∪ V-adds since (a replace's
      // reset only shrinks per-version sets, never the union)
      val keptDv = {
        val base = collection.mutable.Set.from(dvFiles(root, vMin))
        ((vMin + 1) to keep.last).foreach(v =>
          base ++= commitDeltaFull(root, v).dvAdds.map(_.path))
        base.toSet
      }
      val droppedDv = {
        val acc = collection.mutable.Set.empty[String]
        var haveBase = false
        drop.foreach { v =>
          if (!haveBase) {
            try { acc ++= dvFiles(root, v); haveBase = true }
            catch { case _: RuntimeException => () }
          } else if (commitExists(root, v))
            acc ++= commitDeltaFull(root, v).dvAdds.map(_.path)
        }
        acc.toSet
      }
      // GC only files UNDER THIS ROOT: a shallow clone's dropped
      // versions reference the SOURCE table's files — unreferenced
      // here, but owned (and possibly still live) THERE. Vacuum's
      // authority ends at the table directory (Delta's rule); foreign
      // references simply fall out of the log with their versions.
      // FULLY-QUALIFIED comparison (scheme + authority + path): a bare
      // path-component prefix test would classify s3://B/t/x as owned
      // by a table rooted at s3://A/t — or a hdfs: file as owned by a
      // file: root — and delete a foreign filesystem's live file
      val rootQualified = {
        val rp = new Path(root)
        val q = fsFor(rp).makeQualified(rp).toString
        if (q.endsWith("/")) q else q + "/"
      }
      def owned(f: String): Boolean = {
        val p = new Path(f)
        fsFor(p).makeQualified(p).toString.startsWith(rootQualified)
      }
      val dead = (droppedUnion -- keptLive).filter(owned)
      val deadDv = (droppedDv -- keptDv).filter(owned)
      // DRY RUN (the Delta VACUUM preview): report what WOULD expire —
      // same unions, zero mutations (no floor checkpoint either)
      if (dryRun) return (drop.size, dead.size + deadDv.size)
      // (1) the new floor must survive its deltas' deletion
      writeCheckpoint(root, vMin)
      // (2) expired manifests first — no new reader resolves them after this.
      // Each version's checkpoint goes before its commit: a stale
      // committer republishing a freed slot must not find the old
      // checkpoint there ([[withdrawnBelowFloor]])
      drop.foreach { v =>
        val k = checkpointPath(root, v); fsFor(k).delete(k, false)
        val c = commitPath(root, v); fsFor(c).delete(c, false)
      }
      // the log's shape changed under the hint (the floor moved and old
      // checkpoints are gone): drop it rather than trusting validation
      // alone — the next access relists once
      logHints.remove(root)
      // (3) then the data (and DV) files no surviving version references
      (dead ++ deadDv).foreach { f =>
        val p = new Path(f); fsFor(p).delete(p, false)
      }
      // (4) sweep batch dirs the GC emptied
      (dead ++ deadDv).map(f => new Path(f).getParent).foreach { d =>
        val fs = fsFor(d)
        if (fs.exists(d) && fs.listStatus(d).forall(s =>
              s.getPath.getName.startsWith(".") || s.getPath.getName.startsWith("_")))
          fs.delete(d, true)
      }
      (drop.size, dead.size + deadDv.size)
    }
  }

  /** Orphan sweep — the second half of GC: a writer that crashed
    * between [[writeData]] and its commit leaves a batch dir no
    * version ever referenced, which [[expire]] (which reasons only
    * over manifests) never touches; a crash between a tmp manifest
    * write and its publish strands a `.tmp` file in `manifests/`.
    * Deletes files under `data/` that (a) appear in NO surviving
    * version and (b) are older than `graceMs`, plus aged `.tmp`
    * manifest litter — the grace window is what makes this safe to run
    * beside live writers: an in-flight batch's files (and an in-flight
    * commit's tmp manifest) are young, so the sweep cannot GC a batch
    * that is about to be committed. Returns the number of files
    * removed. Run it with `graceMs` comfortably above the longest
    * write-to-commit latency (table formats ship the same knob as e.g.
    * `remove-orphan-files` / vacuum retention). */
  def sweepOrphans(root: String, graceMs: Long): Int = {
    val cutoff = System.currentTimeMillis() - graceMs
    var removed = 0
    val dataDir = new Path(s"$root/data")
    val fs = fsFor(dataDir)
    if (fs.exists(dataDir)) {
      val referenced = survivingUnion(root)
      fs.listStatus(dataDir).filter(_.isDirectory).foreach { batch =>
        val dataFiles = fs.listStatus(batch.getPath).filter(s =>
          s.isFile && s.getPath.getName.startsWith("part-") &&
            s.getPath.getName.endsWith(".parquet"))
        val orphans = dataFiles.filter(s =>
          !referenced.contains(s.getPath.toString) &&
            s.getModificationTime < cutoff)
        orphans.foreach { s => fs.delete(s.getPath, false); removed += 1 }
        // a dir whose EVERY data file was orphaned is a crashed batch:
        // remove it whole (markers like _SUCCESS go with it)
        if (orphans.nonEmpty && orphans.length == dataFiles.length)
          fs.delete(batch.getPath, true)
      }
    }
    // deletion-vector batches have the same crash window: a delete/
    // merge that wrote its DV parquet but never committed (or matched
    // zero rows) leaves dv/ files no version references
    val dvDir = new Path(s"$root/dv")
    val dvfs = fsFor(dvDir)
    if (dvfs.exists(dvDir)) {
      val referencedDv = survivingDvUnion(root)
      dvfs.listStatus(dvDir).filter(_.isDirectory).foreach { batch =>
        val dvFilesHere = dvfs.listStatus(batch.getPath).filter(_.isFile)
        val orphans = dvFilesHere.filter(s =>
          !referencedDv.contains(s.getPath.toString) &&
            s.getModificationTime < cutoff)
        orphans.foreach { s => dvfs.delete(s.getPath, false); removed += 1 }
        if (orphans.nonEmpty && orphans.length == dvFilesHere.length)
          dvfs.delete(batch.getPath, true)
      }
    }
    // manifest-tmp litter: a crash between tmp write and publish leaves
    // a .tmp that no later step ever reasons over
    val mdir = manifestDir(root)
    val mfs = fsFor(mdir)
    if (mfs.exists(mdir)) {
      mfs.listStatus(mdir).filter(s =>
        s.isFile && s.getPath.getName.endsWith(".tmp") &&
          s.getModificationTime < cutoff)
        .foreach { s => mfs.delete(s.getPath, false); removed += 1 }
    }
    removed
  }

  /** Read a snapshot: exactly the files its version resolves to (the
    * highest committed version when none is given). `mergeSchema`
    * reads a SCHEMA-EVOLVED table: batches committed with accreted
    * columns union by name (older rows null-fill) — the Iceberg/Delta
    * schema-evolution read, scoped to the version's own files, so time
    * travel to a pre-evolution version serves the ORIGINAL schema (a
    * plain-parquet mergeSchema over the directory can't — src08 reads
    * every generation's footers at once). */
  def readSnapshot(spark: SparkSession, root: String,
                   version: Option[Int] = None,
                   mergeSchema: Boolean = false): DataFrame = {
    val v = version.getOrElse(latestVersion(root))
    // THE catalog read path: every snapshot read goes through the
    // planning-time FileIndex, so stats-based file skipping, log-carried
    // sizes (no per-file RPCs), and hive-style partition pruning apply
    // to ANY query shape with zero caller opt-in — direct
    // spark.read.parquet(manifestFiles) remains only where a writer
    // genuinely needs the raw file list
    SnapshotFileIndex.snapshotDF(spark, root, Some(v), mergeSchema,
      subtractDeletes = false)
  }

  /** The files version `toV` ADDED over `fromV` (None = a bootstrap
    * read of toV's full list) — the append-only CHANGE FEED primitive:
    * because data files are immutable and an append commit only ever
    * adds files, the rows added between two versions are exactly the
    * rows of the added files, and a downstream consumer can process a
    * live table incrementally at O(delta) per poll instead of
    * re-reading O(table). The delta log makes the poll itself O(delta):
    * the commit files BETWEEN the versions are read, never a full
    * resolution of either endpoint.
    *
    * FAILS LOUDLY across a [[replace]] commit: a compaction/retraction
    * rewrites surviving rows into new files, so treating its adds as
    * new rows would double-count every row it carried over — the
    * IllegalStateException tells the consumer to fall back to a
    * snapshot re-read (or a row-level changelog, the q75 CDC tier),
    * instead of silently serving a wrong count. Also fails when the
    * interval's commits have been expired (the poll horizon must stay
    * inside the retention window — the Delta/Iceberg streaming-source
    * contract). */
  def addedFiles(root: String, fromV: Option[Int], toV: Int): Seq[String] =
    fromV match {
      case None => manifestFiles(root, toV)
      case Some(f) =>
        ((f + 1) to toV).flatMap { v =>
          if (!commitExists(root, v))
            throw new IllegalStateException(
              s"change feed $f->$toV on $root: commit $v expired — poll " +
                "horizon exceeded retention; re-read the snapshot")
          val d = commitDeltaFull(root, v)
          if (d.removes.nonEmpty)
            throw new IllegalStateException(
              s"change feed $f->$toV on $root crossed a replace/compaction " +
                s"at version $v (${d.removes.size} files rewritten): added " +
                "files would double-count surviving rows — re-read the " +
                "snapshot (or consume a row-level changelog) instead")
          if (d.dvAdds.nonEmpty || d.dvReset || d.dvRemoves.nonEmpty)
            throw new IllegalStateException(
              s"change feed $f->$toV on $root crossed a row-level DELETE " +
                s"at version $v: an adds-only fold would keep serving the " +
                "deleted rows — re-read the snapshot (or consume a " +
                "row-level changelog) instead")
          d.adds.map(_.path)
        }
    }

  /** Per-version change-feed PIECES for a streaming consumer
    * ([[GraftFeedSource]]'s `readChangeFeed` mode, which must build its
    * frames on STREAMING relations — [[changeFeedRows]]' batch reads
    * can't ride a micro-batch plan): for each version in `(fromV, toV]`
    * carrying data changes, (version, added data-file entries, DV-file
    * entries added). Same refusal contract as [[changeFeedRows]] — a
    * rewrite (removes / DV reset / DV withdrawal) or an expired commit
    * inside the range throws, never a silent double-count. */
  private[sources] def changeCommits(root: String, fromV: Int, toV: Int)
      : Seq[(Int, Seq[FileEntry], Seq[FileEntry])] =
    ((fromV + 1) to toV).flatMap { v =>
      if (!commitExists(root, v))
        throw new IllegalStateException(
          s"change feed $fromV->$toV on $root: commit $v expired — poll " +
            "horizon exceeded retention; re-read the snapshot")
      val d = commitDeltaFull(root, v)
      if (d.removes.nonEmpty || d.dvReset || d.dvRemoves.nonEmpty)
        throw new IllegalStateException(
          s"change feed $fromV->$toV on $root crossed a replace/compaction " +
            s"at version $v: row-level deltas are not derivable from a " +
            "rewrite — re-read the snapshot and re-baseline")
      if (d.adds.isEmpty && d.dvAdds.isEmpty) None
      else Some((v, d.adds, d.dvAdds))
    }

  /** ROW-LEVEL change feed (the Delta CDF shape) for versions
    * `(fromV, toV]`, derived from the delta log + deletion vectors
    * alone: each append contributes its added files' rows as
    * `_change_type = 'insert'`; each DV commit contributes the rows AT
    * the deleted positions as `_change_type = 'delete'` (a merge
    * commit contributes both — its upserts as inserts, the superseded
    * rows as deletes); `_commit_version` stamps each row. Cost is
    * O(changed rows): inserts read only the added files, deletes read
    * only the files the DV entries cover, as the log records them
    * ([[deletedRows]] keeps just the deleted positions).
    *
    * FAILS LOUDLY across a [[replace]] like [[addedFiles]]: a
    * compaction/retraction rewrites surviving rows wholesale, so
    * row-level deltas are not derivable from its commit (Delta CDF has
    * the same rule: `dataChange = false` rewrites emit nothing, and a
    * reader crossing a non-CDF rewrite re-baselines) — the consumer
    * re-reads the snapshot and resumes. Also fails when the interval
    * fell off retention. */
  def changeFeedRows(spark: SparkSession, root: String,
                     fromV: Int, toV: Int): DataFrame = {
    import org.apache.spark.sql.functions.lit
    require(fromV < toV, s"changeFeedRows: empty interval $fromV -> $toV")
    // hive-partitioned tables: the data files don't CONTAIN the
    // partition columns — reconstruct them from each row's file path
    // ([[reconstructPartCols]]), so feed rows carry the full table
    // schema on both the insert and delete side
    def withPartCols(df0: DataFrame, v: Int): DataFrame =
      partitionSpecAt(root, v).fold(df0)(sp => reconstructPartCols(df0, sp))
    val frames = ((fromV + 1) to toV).flatMap { v =>
      if (!commitExists(root, v))
        throw new IllegalStateException(
          s"change feed $fromV->$toV on $root: commit $v expired — poll " +
            "horizon exceeded retention; re-read the snapshot")
      val d = commitDeltaFull(root, v)
      if (d.removes.nonEmpty || d.dvReset || d.dvRemoves.nonEmpty)
        throw new IllegalStateException(
          s"change feed $fromV->$toV on $root crossed a replace/compaction " +
            s"at version $v: row-level deltas are not derivable from a " +
            "rewrite — re-read the snapshot and re-baseline")
      val inserts =
        if (d.adds.isEmpty) None
        else Some(withPartCols(spark.read.parquet(d.adds.map(_.path): _*), v)
          .withColumn("_change_type", lit("insert")))
      val deletes =
        if (d.dvAdds.isEmpty) None
        else Some(deletedRows(spark, d.dvAdds)(touched =>
          withPartCols(spark.read.parquet(touched: _*), v)))
      (inserts.toSeq ++ deletes.toSeq)
        .map(_.withColumn("_commit_version", lit(v.toLong)))
    }
    if (frames.isEmpty)
      sys.error(s"changeFeedRows $fromV->$toV on $root: no data commits " +
        "in the interval (metadata-only commits carry no rows)")
    frames.reduce(_ unionByName _)
  }

  /** Default lower bound for the incremental-OPTIMIZE small-file
    * selection: live files under this are ingest litter eligible for
    * bin-packing; files at-or-over it are NEVER rewritten unless they
    * carry deletion vectors. Keep it ≤ [[optimizeTargetFileBytes]]/2
    * so a file a previous pass wrote at target size can never become a
    * candidate again. */
  val optimizeMinFileBytes: Long = 32L * 1024 * 1024

  /** Target output size for OPTIMIZE rewrites: a selection larger than
    * this splits into ~target-sized files (which then sit above
    * [[optimizeMinFileBytes]] and are permanently out of the rewrite
    * set). */
  val optimizeTargetFileBytes: Long = 128L * 1024 * 1024

  /** Threshold-driven INCREMENTAL OPTIMIZE. The DECISION is from log
    * metadata alone (no scan, no data IO): compact when accumulated
    * deletion vectors cross `maxDvBytes`, by default the size
    * [[graft.core.BroadcastGate]] lets through (read amplification: every
    * scan task re-reads its file's positions from the DV files once the
    * process cache no longer holds them), when the
    * DELETED FRACTION of live rows crosses `maxDeletedFrac` (read
    * amplification: scans keep decoding rows the DV filter then
    * drops), or when the live file count crosses `maxLiveFiles`
    * (small-file ingest litter — st40's shape).
    *
    * The ACTION rewrites only what needs it — never the whole table:
    *   - every live file CARRYING in-effect DV positions is rewritten
    *     with its deletes applied, and the DV set resets in the same
    *     commit (src17's semantics, scoped to exactly the bearing
    *     files; dangling positions into already-removed files clear
    *     with the reset);
    *   - files under `minFileBytes` bin-pack under a SIZE-TIERED
    *     doubling rule: the selected set S must satisfy
    *     `sum(S) ≥ 2 × max(S)` (largest members drop out until it
    *     holds), so every byte's file at least doubles per rewrite it
    *     participates in — O(log table) rewrites per byte over the
    *     life of an ingest stream, where rewriting everything each
    *     fire is O(N²) total (the round-15 scale defect). Outputs
    *     split at `targetFileBytes`, putting them above the candidate
    *     bound for good;
    *   - large clean files are NEVER rewritten — a file a previous
    *     pass produced survives later fires byte-identical.
    *
    * The rewrite preserves the table's hive partition layout (spec and
    * values ride the commit), and `clusterBy` makes it an
    * OPTIMIZE-with-clustering over the selected files: range-partition
    * + sort into `compactTo` output files, so the refreshed per-file
    * stats come out tight and the planning-time index cuts files on
    * those columns afterwards. Returns the compacting commit's
    * version; None when no threshold was crossed OR nothing qualifies
    * for rewriting (a table of large clean files over `maxLiveFiles`
    * is not litter — rewriting it would be the quadratic this
    * replaced). Row counts ride the log ([[FileEntry.rows]]); entries
    * lacking them contribute conservatively nothing to the fraction.
    * Commits through [[commitRowLevel]]: an intervening append is
    * safe, any other intervening commit aborts the pass. */
  def maintainIfNeeded(spark: SparkSession, root: String, batch: String,
                       maxDvBytes: Option[Long] = None,
                       maxDeletedFrac: Double = 0.5,
                       maxLiveFiles: Int = Int.MaxValue,
                       compactTo: Int = 2,
                       clusterBy: Seq[String] = Seq.empty,
                       minFileBytes: Long = optimizeMinFileBytes,
                       targetFileBytes: Long = optimizeTargetFileBytes,
                       minMergeFanout: Int = 4,
                       partitionScope: Map[String, String] = Map.empty)
      : Option[Int] = {
    import org.apache.spark.sql.functions.col
    val vOpt = latestVersionOption(root)
    if (vOpt.isEmpty) return None
    val v = vOpt.get
    val entries = manifestEntries(root, v)
    val dvs = dvEntries(root, v)
    // `OPTIMIZE ... WHERE p = 'a'` (Delta's partition-scoped OPTIMIZE):
    // only files in matching partitions are candidates; DV positions
    // into OUT-of-scope files are re-landed, not reset
    if (partitionScope.nonEmpty) {
      val specNames = partitionSpecAt(root, v)
        .map(_.fieldNames.toSet).getOrElse(Set.empty)
      val bad = partitionScope.keys.filterNot(specNames.contains)
      if (bad.nonEmpty) sys.error(s"OPTIMIZE on $root: WHERE references " +
        s"non-partition column(s) ${bad.mkString(", ")} — the scope must " +
        "be a partition predicate")
    }
    // the scope value arrives as RAW literal text; directory segments
    // are hive-ESCAPED by the writer (spaces, ':', '%', unicode …) —
    // encode with the same escaping before comparing, or a scoped pass
    // over such values silently selects nothing
    def hiveSeg(c: String, vl: String): String = {
      import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
      ExternalCatalogUtils.escapePathName(c) + "=" +
        ExternalCatalogUtils.escapePathName(vl)
    }
    def inScope(path: String): Boolean =
      partitionScope.isEmpty || {
        val vec = partitionVecOf(path)
        partitionScope.forall { case (c, vl) => vec.contains(hiveSeg(c, vl)) }
      }
    val dvBytes = dvs.map(entryBytes).sum
    val liveRows = entries.map(_.rows).filter(_ >= 0).sum
    val delRows = dvs.map(_.rows).filter(_ >= 0).sum
    val due =
      (dvs.nonEmpty &&
        maxDvBytes.fold(!graft.core.BroadcastGate.fits(spark, dvBytes))(dvBytes > _)) ||
        (liveRows > 0 && delRows.toDouble / liveRows > maxDeletedFrac) ||
        entries.size > maxLiveFiles
    if (!due) return None

    def uriOf(p: String): String = new Path(p).toUri.getPath

    // files bearing live DV positions (O(deleted rows) metadata read —
    // the only data IO the selection itself costs)
    val bearingRaw: Seq[String] =
      if (dvs.isEmpty) Seq.empty else dvBearingFiles(spark, dvs)
    val bearingUris: Set[String] = bearingRaw.map(uriOf).toSet
    val liveBearing = entries.filter(e =>
      bearingUris.contains(uriOf(e.path)) && inScope(e.path))
    // size-tiered small-file selection among the CLEAN files, SCOPED
    // PER PARTITION: a merged generation of a partitioned table is
    // split across its partitions' files, so a TABLE-WIDE doubling
    // check against the largest single file would pass on every fire
    // (P equal outputs always sum past 2x any one of them) and
    // quietly reintroduce the full-table rewrite. Per partition, the
    // previous pass's single output only re-merges once the new litter
    // has caught up to it — the O(log) write amplification holds for
    // partitioned and flat tables alike.
    val smallSel = entries
      .filterNot(e => bearingUris.contains(uriOf(e.path)))
      .filter(e => entryBytes(e) < minFileBytes && inScope(e.path))
      .groupBy(e => partitionVecOf(e.path)).values.flatMap { group =>
        val asc = group.sortBy(entryBytes)
        var n = asc.length
        var sum = asc.iterator.map(entryBytes).sum
        while (n >= 2 && sum < 2L * entryBytes(asc(n - 1))) {
          sum -= entryBytes(asc(n - 1)); n -= 1
        }
        // fan-out floor: a merge must claim at least minMergeFanout
        // files — pair-merges buy almost no file-count reduction per
        // rewrite job (LSM stores use a 4-10 fan-out for the same
        // reason); litter below the floor waits for company, bounding
        // per-partition residue at fanout-1 small files
        if (n >= math.max(2, minMergeFanout)) asc.take(n) else Seq.empty
      }.toSeq
    val selection = liveBearing ++ smallSel

    // a scoped pass with nothing qualifying IN SCOPE is a no-op — it
    // must not fall into the metadata-only DV reset below, which would
    // clear out-of-scope partitions' deletes
    if (partitionScope.nonEmpty && selection.isEmpty) return None
    if (selection.isEmpty && dvs.isEmpty) return None
    // DV positions referencing files the rewrite does NOT claim (out-
    // of-scope partitions under a scoped pass) must stay in effect:
    // withdraw every entry and re-land the surviving positions (the
    // replacePartitions restructuring); the unscoped pass claims every
    // bearing file, so surviving is empty and the plain reset applies
    val selUrisForDv = selection.map(e => uriOf(e.path)).toSet
    // surviving = positions into files still LIVE in the manifest and
    // not claimed by this rewrite; positions into already-removed files
    // (a partition overwrite under the pre-`W` format) DANGLE — they
    // must fall through to the plain dvReset below, or the pass would
    // re-land them forever (one fresh commit per fire, never converging)
    val liveUris = entries.map(e => uriOf(e.path)).toSet
    val survivingRaw = bearingRaw.filterNot(f =>
      selUrisForDv.contains(uriOf(f))).filter(f =>
      liveUris.contains(uriOf(f)))
    val reland =
      if (dvs.isEmpty || survivingRaw.isEmpty) None
      else Some(relandDvs(spark, root, dvs, survivingRaw))
    val spec = partitionSpecAt(root, v)
    val specCols = spec.map(_.fieldNames.toSeq).getOrElse(Seq.empty)
    val fullSchema = schemaAt(root, v)

    val (newEntries, schemaJson) =
      if (selection.isEmpty) {
        // every in-effect DV position dangles (references files already
        // removed by a partition overwrite under the pre-`W` format):
        // clear the litter with a METADATA-ONLY reset commit
        (Seq.empty[FileEntry], fullSchema.map(_.json))
      } else {
        val dataSchema = fullSchema.map(s =>
          StructType(s.fields.filterNot(f => specCols.contains(f.name))))
        val raw0 = dataSchema match {
          case Some(ds) =>
            spark.read.schema(ds).parquet(selection.map(_.path): _*)
          case None => spark.read.option("mergeSchema", "true")
            .parquet(selection.map(_.path): _*)
        }
        val raw = spec.fold(raw0)(sp => reconstructPartCols(raw0, sp))
        val applied =
          if (liveBearing.isEmpty) raw
          else joinDeletes(raw, dvs)
        val selBytes = selection.iterator.map(entryBytes).sum
        val byTarget = math.max(1L,
          (selBytes + targetFileBytes - 1) / targetFileBytes).toInt
        val rewritten =
          if (clusterBy.isEmpty) applied.repartition(math.max(1, byTarget))
          else applied
            .repartitionByRange(math.max(compactTo, byTarget), clusterBy.map(col): _*)
            .sortWithinPartitions(clusterBy.map(col): _*)
        val (staged, stagedSchema, _) = stagingAfterDv(root, reland, batch)(
          stageBatch(rewritten, root, batch, specCols, recordStats = true))
        (staged, fullSchema.map(_.json).orElse(stagedSchema))
      }

    val selPaths = selection.map(_.path).toSet
    // the rewrite was computed against v: intervening appends are safe
    // (their files are disjoint from the selection and carry no DV
    // positions); any other commit invalidates the selection or the reset
    Some(commitRowLevel("maintainIfNeeded", root, v, reland, Some(batch), _ => true) { nv =>
      tryCommitEntries(root, nv,
        adds = newEntries.distinct.sortBy(_.path),
        removes = selPaths.toSeq.sorted,
        dvReset = dvs.nonEmpty && survivingRaw.isEmpty,
        dvAdds = reland.toSeq.flatMap(_.entries),
        dvRemoves = if (reland.isDefined) dvs.map(_.path) else Seq.empty,
        schemaJson = schemaJson,
        partJson = spec.map(_.json))
    })
  }

  /** Reconstruct hive partition columns from each row's file path (the
    * data files of a partitioned layout don't contain them) — the same
    * directory values the serve path casts, anchored under the data
    * dir so a column name that suffixes another (`type` vs
    * `event_type`) or a `col=value` segment in the table root can
    * never mis-match. */
  private[sources] def reconstructPartCols(df0: DataFrame,
                                  sp: StructType): DataFrame = {
    import org.apache.spark.sql.functions.{col, regexp_extract, regexp_replace, url_decode}
    sp.fields.foldLeft(df0) { (df, f) =>
      val raw = regexp_extract(col("_metadata.file_path"),
        "/data/.*/" + java.util.regex.Pattern.quote(f.name) + "=([^/]+)/", 1)
      df.withColumn(f.name,
        url_decode(regexp_replace(raw, "\\+", "%2B")).cast(f.dataType))
    }
  }

  /** Read `dir` as a catalog table when it has a committed manifest,
    * else as a plain parquet directory — the read seam that lets
    * artifact consumers (gate probes, scrub indexes) accept both a
    * catalog-managed index and a caller-staged plain dir. */
  def readTableOrDir(spark: SparkSession, dir: String): DataFrame =
    if (isTable(dir)) readSnapshot(spark, dir) else spark.read.parquet(dir)

  /** The data bytes version `v`'s commit ADDED — log-carried sizes
    * (a filesystem probe only for legacy path-only entries). The feed
    * source's `maxBytesPerTrigger` reads this per candidate version:
    * O(1) cached log metadata, no listing. */
  def addedBytesOf(root: String, v: Int): Long =
    commitDeltaFull(root, v).adds.map(entryBytes).sum

  /** The source files every surviving `COPY INTO` has loaded, as of
    * version `v` — resolved from the log's accumulative `L` lines
    * (checkpoint carries the full set, deltas union in; carried across
    * rewrites like properties). */
  def loadedFilesAt(root: String, v: Int): Set[String] = {
    val cp = checkpointAtOrBelow(root, v)
    val base = collection.mutable.Set.empty[String]
    cp.foreach(c => base ++= readCheckpoint(root, c).loaded)
    ((cp.getOrElse(0) + 1) to v).foreach { cv =>
      if (commitExists(root, cv)) base ++= commitDeltaFull(root, cv).loaded
    }
    base.toSet
  }

  /** `COPY INTO` (the Delta verb): load a directory of external
    * parquet/csv files into the table EXACTLY ONCE PER FILE — the
    * loaded-file markers land as `L` lines IN THE SAME COMMIT as the
    * data (one atomic publish: a crash anywhere re-runs to the same
    * state, a replayed COPY skips everything already loaded). The
    * listing anti-joins the log's loaded set (O(source files) driver
    * work, no data read for skipped files); new files read with the
    * TABLE's schema, aligned BY NAME with casts (missing table columns
    * null-fill; extra source columns refuse loudly — the Delta
    * default), staged as ONE batch (CHECK constraints ride the write
    * pass), committed with the markers. A concurrent COPY that loaded
    * an overlapping file between the listing and the publish aborts
    * the CAS loudly — the re-run skips the overlap. Returns
    * (files loaded, version). */
  def copyInto(spark: SparkSession, root: String, srcDir: String,
               format: String = "parquet"): (Int, Int) = {
    import org.apache.spark.sql.functions.{col, lit}
    require(format == "parquet" || format == "csv",
      s"COPY INTO supports FILEFORMAT = PARQUET | CSV, got $format")
    val v0 = latestVersion(root)
    val srcPath = new Path(srcDir)
    val fs = fsFor(srcPath)
    if (!fs.exists(srcPath)) sys.error(s"COPY INTO: $srcDir does not exist")
    val ext = "." + format
    def walk(p: Path): Seq[String] =
      fs.listStatus(p).toSeq.flatMap { st =>
        val n = st.getPath.getName
        if (n.startsWith(".") || n.startsWith("_")) Seq.empty
        else if (st.isDirectory) walk(st.getPath)
        else if (st.isFile && n.endsWith(ext)) Seq(st.getPath.toString)
        else Seq.empty
      }
    val listed = walk(srcPath).sorted
    val already = loadedFilesAt(root, v0)
    val newFiles = listed.filterNot(already.contains)
    if (newFiles.isEmpty) return (0, v0)
    val tableSchema = schemaAt(root, v0).getOrElse(
      sys.error(s"COPY INTO on $root needs a log-carried table schema"))
    val raw =
      if (format == "parquet") spark.read.parquet(newFiles: _*)
      else spark.read.option("header", "true").schema(tableSchema)
        .csv(newFiles: _*)
    val extra = raw.columns.filterNot(tableSchema.fieldNames.contains)
    if (extra.nonEmpty)
      sys.error(s"COPY INTO on $root: source carries column(s) " +
        s"${extra.mkString(", ")} not in the table's schema — drop them " +
        "or ALTER TABLE ADD COLUMNS first")
    val aligned = raw.select(tableSchema.fields.toSeq.map(f =>
      (if (raw.columns.contains(f.name)) col(f.name)
       else lit(null)).cast(f.dataType).as(f.name)): _*)
    val spec = partitionSpecAt(root, v0).map(_.fieldNames.toSeq)
      .getOrElse(Seq.empty)
    val batch = "copy" + java.util.UUID.randomUUID().toString.take(12)
    val (entries, schemaJson, partJson) =
      stageBatch(aligned, root, batch, spec, recordStats = true)
    commitLoop("COPY INTO", root, batch = Some(batch)) { pv =>
      if (pv == 0) noTable(root)
      // a concurrent COPY may have loaded an overlap after our listing:
      // committing would double-load those rows — abort loudly, the
      // re-run's fresh listing skips them
      if (pv != v0) {
        val nowLoaded = loadedFilesAt(root, pv)
        val overlap = newFiles.filter(nowLoaded.contains)
        if (overlap.nonEmpty)
          throw new java.util.ConcurrentModificationException(
            s"COPY INTO on $root: a concurrent COPY already loaded " +
              s"${overlap.head} (+${overlap.size - 1} more) — re-run to " +
              "load only the remainder")
      }
      Option.when(tryCommitEntries(root, pv + 1,
        adds = entries.distinct.sortBy(_.path), removes = Seq.empty,
        schemaJson = schemaJson, partJson = partJson,
        loaded = newFiles))((newFiles.size, pv + 1))
    }
  }

  /** SHALLOW CLONE (the Delta shape): publish `destRoot` as a NEW table
    * whose version-1 commit REFERENCES the source's data files and
    * in-effect deletion vectors at `version` (default: latest) — zero
    * bytes copied, O(live files) metadata. The clone is independently
    * writable: its own appends/deletes/rewrites land under its own
    * root and never touch the source; its vacuum GCs only its own
    * staged files (referenced source files are outside its data dir).
    * The Delta caveat carries over verbatim: VACUUM on the SOURCE can
    * delete files a clone still references — clones are sandboxes
    * inside the source's retention window, not backups. Returns the
    * cloned-from version. */
  def shallowClone(sourceRoot: String, destRoot: String,
                   version: Option[Int] = None): Int = {
    if (isTable(destRoot))
      sys.error(s"clone: $destRoot is already a table")
    val v = version.getOrElse(latestVersion(sourceRoot))
    if (!commitExists(sourceRoot, v))
      sys.error(s"clone: version $v of $sourceRoot is not surviving")
    val entries = manifestEntries(sourceRoot, v)
    val dvs = dvEntries(sourceRoot, v)
    if (!tryCommitEntries(destRoot, 1, adds = entries.sortBy(_.path),
          removes = Seq.empty, dvAdds = dvs.sortBy(_.path),
          schemaJson = schemaAt(sourceRoot, v).map(_.json),
          partJson = partitionSpecAt(sourceRoot, v).map(_.json),
          props = Some(propertiesAt(sourceRoot, v))))
      sys.error(s"clone: a concurrent commit landed version 1 at $destRoot")
    v
  }

  /** CONVERT a plain parquet directory (flat or hive-partitioned) into
    * a catalog table IN PLACE — the Delta `CONVERT TO DELTA` shape: no
    * data byte is read or copied. Each discovered file is RENAMED
    * under `<dir>/data/convert-v1/` (its hive `col=value` subpath
    * preserved, so the partition-value anchor every serving path uses
    * holds), one footer pass records sizes/rowcounts/typed stats — the
    * same planning record [[stageBatch]] lands — and ONE version-1
    * commit publishes the table. At 100 TB that is O(files) namespace
    * ops + O(files) footer RPCs, never O(bytes).
    *
    * Idempotent across crashes: renames that already happened are
    * skipped (dest-exists check), and the commit is the single atomic
    * publish — a re-run after any interruption converges to the same
    * table. Partition columns and their types are inferred from the
    * final layout exactly the way Spark serves hive dirs;
    * `declaredPartitions`, when given, must match the inferred names
    * (the Delta contract: a mis-declared spec corrupts pruning).
    * Returns (files converted, committed version). */
  def convertInPlace(spark: SparkSession, dir: String,
                     declaredPartitions: Option[Seq[String]] = None)
      : (Int, Int) = {
    val rootPath = new Path(dir)
    val fs = fsFor(rootPath)
    if (isTable(dir))
      sys.error(s"convert: $dir is already a graft table (version " +
        s"${latestVersion(dir)})")
    if (!fs.exists(rootPath) || !fs.getFileStatus(rootPath).isDirectory)
      sys.error(s"convert: $dir is not a directory")
    val batchDir = new Path(s"$dir/data/convert-v1")
    // every parquet file OUTSIDE the catalog dirs, with its partition
    // subpath relative to the root
    def walk(p: Path, rel: String): Seq[(Path, String, Long)] =
      fs.listStatus(p).toSeq.flatMap { st =>
        val name = st.getPath.getName
        if (name.startsWith(".") || name.startsWith("_")) Seq.empty
        else if (st.isDirectory) {
          if (rel.isEmpty && (name == "data" || name == "manifests")) Seq.empty
          else walk(st.getPath, if (rel.isEmpty) name else s"$rel/$name")
        }
        else if (st.isFile && name.endsWith(".parquet"))
          Seq((st.getPath, rel, st.getLen))
        else Seq.empty
      }
    val pending = walk(rootPath, "")
    pending.foreach { case (src, rel, _) =>
      val destDir = if (rel.isEmpty) batchDir else new Path(batchDir, rel)
      if (!fs.exists(destDir)) fs.mkdirs(destDir)
      // normalize to the catalog's part- naming (the GC walker's
      // contract); keep the original name for uniqueness within its dir
      val base = src.getName
      val dest = new Path(destDir,
        if (base.startsWith("part-")) base else s"part-c-$base")
      if (fs.exists(dest)) {
        // a crashed previous convert already moved this name: renames
        // are the unit of idempotence, never overwrite
        if (fs.exists(src)) sys.error(s"convert: both $src and $dest " +
          "exist — a file was copied into the directory after a crashed " +
          "convert; remove one and re-run")
      } else if (!fs.rename(src, dest))
        sys.error(s"convert: rename $src -> $dest failed")
    }
    // best-effort: drop the now-empty partition shells at the root —
    // only a subtree containing NO files at all (a shell with any
    // stray non-parquet file is left untouched)
    pending.map(_._2).filter(_.nonEmpty).map(_.split("/").head).distinct
      .foreach { top =>
        val p = new Path(rootPath, top)
        try {
          if (fs.exists(p) && !fs.listFiles(p, true).hasNext)
            fs.delete(p, true)
        } catch { case scala.util.control.NonFatal(_) => () }
      }
    if (!fs.exists(batchDir))
      sys.error(s"convert: no parquet files under $dir")
    // infer the served schema (partition types included) from the FINAL
    // layout — the exact read Spark performs over the committed table
    val inferred = spark.read.parquet(batchDir.toString)
    val sized = listDataEntries(batchDir.toString)
    if (sized.isEmpty) sys.error(s"convert: no parquet files under $dir")
    val partNames: Seq[String] = {
      val relDirs = sized.map { case (f, _) =>
        new Path(f).getParent.toString
          .stripPrefix(batchDir.toString).stripPrefix("/")
      }.distinct
      val vecs = relDirs.map(_.split("/").toSeq.filter(_.contains("="))
        .map(_.split("=", 2).head))
      vecs.distinct match {
        case Seq(one) => one
        case Seq() => Seq.empty
        case many => sys.error(s"convert: inconsistent partition layouts " +
          s"under $dir: ${many.mkString(" vs ")}")
      }
    }
    declaredPartitions.foreach { d =>
      if (d != partNames) sys.error(s"convert: PARTITIONED BY " +
        s"(${d.mkString(", ")}) does not match the directory layout " +
        s"(${partNames.mkString(", ")})")
    }
    val spec =
      if (partNames.isEmpty) None
      else Some(StructType(partNames.map(n => inferred.schema(n)).toArray))
    val meta = footerStats(sized.map(_._1))
      .map { case (f, n, st) => f -> (n, st) }.toMap
    val entries = sized.map { case (f, sz) =>
      val (n, st) = meta.getOrElse(f,
        (-1L, Map.empty[String, (String, String, String)]))
      FileEntry(f, sz, n, st)
    }
    if (!tryCommitEntries(dir, 1, adds = entries.sortBy(_.path),
          removes = Seq.empty, schemaJson = Some(inferred.schema.json),
          partJson = spec.map(_.json)))
      sys.error(s"convert: a concurrent commit landed version 1 at $dir")
    (entries.size, 1)
  }

  /** Time travel by WALL CLOCK (`TIMESTAMP AS OF`): the newest
    * surviving version whose commit published at-or-before `tsMillis`
    * (commit files are immutable after publish, so their modification
    * time IS the commit time). None when the table didn't exist yet
    * or every version that old has been expired. */
  def versionAsOf(root: String, tsMillis: Long): Option[Int] =
    versions(root).filter { v =>
      val p = commitPath(root, v)
      val fs = fsFor(p)
      fs.exists(p) && fs.getFileStatus(p).getModificationTime <= tsMillis
    }.lastOption

  /** Version `v`'s commit wall-clock (ms) — commit files are immutable
    * after publish, so the modification time IS the commit time (the
    * same source `versionAsOf`/`history` read). */
  def commitTimeMs(root: String, v: Int): Long = {
    val p = commitPath(root, v)
    fsFor(p).getFileStatus(p).getModificationTime
  }

  /** One history row per surviving version — `DESCRIBE HISTORY`:
    * (version, kind, data files added, data files removed, DV files
    * added, commit time ms). Kind derives from the commit's own delta:
    * `append` (adds only), `delete` (DV adds only), `merge` (data +
    * DV adds in one commit), `replace` (removes/reset — compaction,
    * retraction, fold-rewrite). O(surviving deltas) metadata reads,
    * never a data scan. */
  def history(root: String): Seq[(Int, String, Int, Int, Int, Long)] =
    versions(root).filter(commitExists(root, _)).map { v =>
      val d = commitDeltaFull(root, v)
      val kind =
        if (d.removes.nonEmpty || d.dvReset) "replace"
        else if (d.dvAdds.nonEmpty && d.adds.nonEmpty) "merge"
        else if (d.dvAdds.nonEmpty) "delete"
        else "append"
      val p = commitPath(root, v)
      (v, kind, d.adds.size, d.removes.size, d.dvAdds.size,
        fsFor(p).getFileStatus(p).getModificationTime)
    }

  // ---- row-level deletes via DELETION VECTORS ------------------------
  // The Delta-DV / Iceberg-position-delete idea: deleting 0.1 % of a
  // 100 TB table must not rewrite the files holding the other 99.9 %.
  // A delete commits (file, row_position) pairs — read straight off the
  // scan's `_metadata.row_index` hidden column, so no surrogate key is
  // needed — as small parquet "deletion vector" batches under
  // <root>/dv/; the commit itself is O(deleted rows) and the data files
  // are untouched (time travel to the pre-delete version still serves
  // the rows). Each DV entry's `V` line records the data files it
  // covers, as Delta's add actions carry their DV descriptors. Serving
  // drops the DV positions with [[joinDeletes]]: a filter that, inside
  // the scan task, reads only the positions of the data file it is
  // scanning — one path at every DV set size, no shuffle, no join. A
  // later [[replace]] (compaction) applies them physically and resets
  // the DV set atomically in its own commit.
  //
  // One writer, one reader: [[stageDvBatch]] lands every DV batch
  // sorted by (`__dv_file`, `__dv_pos`) and logs its coverage and count
  // (footer-counted, no extra job); [[DvFiles]] reads a data file's
  // positions with the parquet-hadoop reader in the fixed [[dvSchema]].
  // Only a re-land, which is a write, reads DV files as a Spark scan
  // ([[relandDvs]]).

  /** The schema of every DV batch: the scan's `_metadata.file_path` and
    * `_metadata.row_index`, as [[joinDeletes]] names them. */
  private[graft] val dvSchema: StructType = {
    import org.apache.spark.sql.types.{LongType, StringType, StructField}
    StructType(Seq(StructField("__dv_file", StringType), StructField("__dv_pos", LongType)))
  }

  /** THE deletion-vector application — serving, the change feeds,
    * maintenance and the row-level ops all apply DVs here. `df` (a
    * batch or streaming scan whose `_metadata` is still reachable)
    * gains each row's position as `__dv_file`/`__dv_pos`, matched by a
    * [[graft.functions.DvListed]] filter against the DV files `dvs`:
    * the deleted rows are dropped, or with `onlyDeleted` (the change
    * feeds' [[deletedRows]]) only they are kept. The filter broadcasts
    * an index from each covered data file to its DV entries (path and
    * logged size) with the session's Hadoop conf; each task reads its
    * data file's positions itself, through [[DvFiles]]' cache. So no
    * DV set size adds a Spark job, a shuffle or a driver-held position.
    * No DVs means no filter (`onlyDeleted` callers always pass some).
    * The position columns are dropped unless `keepPositions`. */
  private[sources] def joinDeletes(df: DataFrame, dvs: Seq[FileEntry],
                                   onlyDeleted: Boolean = false,
                                   keepPositions: Boolean = false): DataFrame = {
    import org.apache.spark.sql.functions.col
    val withPos = df.withColumn("__dv_file", col("_metadata.file_path"))
      .withColumn("__dv_pos", col("_metadata.row_index"))
    if (dvs.isEmpty) return if (keepPositions) withPos else df
    val spark = df.sparkSession
    val conf = spark.sessionState.newHadoopConf()
    val byFile = dvs.flatMap(e => DvFiles.covered(conf, e).map(_ -> (e.path, entryBytes(e))))
      .groupMap(_._1)(_._2)
    import org.apache.spark.sql.graftbridge.Bridge
    val listed = Bridge.column(graft.functions.DvListed(
      Bridge.expression(col("__dv_file")), Bridge.expression(col("__dv_pos")),
      spark.sparkContext.broadcast(
        new DvFiles.Index(byFile, new org.apache.spark.SerializableWritable(conf)))))
    val applied = withPos.filter(if (onlyDeleted) listed else !listed)
    if (keepPositions) applied else applied.drop("__dv_file", "__dv_pos")
  }

  /** The rows a commit's DV batch `dvAdds` deletes, as `_change_type =
    * delete` rows — the delete side of both change feeds. Only the
    * files the positions reference ([[dvBearingFiles]]) are opened,
    * through `read` (a batch or streaming scan of those files), and
    * [[joinDeletes]] keeps just the deleted positions. */
  private[sources] def deletedRows(spark: SparkSession, dvAdds: Seq[FileEntry])(
      read: Seq[String] => DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.lit
    joinDeletes(read(dvBearingFiles(spark, dvAdds)), dvAdds, onlyDeleted = true)
      .withColumn("_change_type", lit("delete"))
  }

  /** The files the DV set `dvs` points at: the union of their logged
    * coverage, sorted — a read of the log at any DV set size. */
  private[graft] def dvBearingFiles(spark: SparkSession, dvs: Seq[FileEntry]): Seq[String] =
    dvs.flatMap(DvFiles.covered(spark.sessionState.newHadoopConf(), _)).distinct.sorted

  /** A DV batch staged under `<root>/dv/` for a commit that has not
    * landed yet: its log entries and row count. */
  private[sources] final case class StagedDv(dir: Path, entries: Seq[FileEntry], rows: Long) {
    def discard(): Unit = fsFor(dir).delete(dir, true)
  }

  /** Delete what an op staged for a commit that will not land: its DV
    * batch `dv` and its data batch `batch` — each unless a version
    * references it (its commit, or the same batch name, landed first). */
  private def discardStaged(root: String, dv: Option[StagedDv],
                            batch: Option[String]): Unit = {
    lazy val referenced = survivingDvUnion(root)
    dv.filterNot(_.entries.exists(e => referenced(e.path))).foreach(_.discard())
    batch.filterNot(isBatchCommitted(root, _)).foreach { b =>
      val dir = new Path(s"$root/data/$b")
      fsFor(dir).delete(dir, true)
    }
  }

  /** `stage`, a row-level op's data-batch write after its DV batch `dv`
    * was staged: when the write fails (a CHECK violation raised
    * mid-write), both batches are discarded before the failure
    * propagates. */
  private def stagingAfterDv[A](root: String, dv: Option[StagedDv], batch: String)(
      stage: => A): A =
    try stage
    catch { case e: Throwable => discardStaged(root, dv, Some(batch)); throw e }

  /** THE DV-batch writer: the positions frame (`__dv_file`, `__dv_pos`)
    * lands sorted as ONE batch `<root>/dv/<tag><uuid>`. Each entry
    * records its file's count (from its parquet footer on the driver)
    * and the batch's coverage (its distinct `__dv_file` values, observed
    * by the write) — no extra Spark job. An empty batch is deleted and
    * stages no entries. With `refuseRepeats`, a position that occurs
    * twice fails the write with that message, and nothing stays staged. */
  private def stageDvBatch(root: String, tag: String, positions: DataFrame,
                           refuseRepeats: Option[String] = None): StagedDv = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{coalesce, col, collect_set, lag, lit, raise_error}
    val dir = new Path(s"$root/dv/$tag${java.util.UUID.randomUUID().toString.take(8)}")
    // one partition, so sorting it and a window clustered on the file
    // need no shuffle; sorted by position, a repeat sits next to its twin
    val one = positions.coalesce(1).sortWithinPartitions("__dv_file", "__dv_pos")
    val checked = refuseRepeats.fold(one) { msg =>
      one.withColumn("__dv_prev", lag(col("__dv_pos"), 1)
          .over(Window.partitionBy("__dv_file").orderBy("__dv_pos")))
        .filter(coalesce(col("__dv_prev") =!= col("__dv_pos"), lit(true))
          .or(raise_error(lit(msg))))
        .drop("__dv_prev")
    }
    val coverage = org.apache.spark.sql.Observation()
    try checked.observe(coverage, collect_set(col("__dv_file")).as("files"))
      .write.mode("overwrite").parquet(dir.toString)
    catch { case e: Throwable => fsFor(dir).delete(dir, true); throw e }
    val sized = listDataEntries(dir.toString)
    val counted = sized.zip(footerStats(sized.map(_._1))).map {
      case ((f, sz), (_, n, _)) => FileEntry(f, sz, n) }
    val n = counted.map(_.rows).sum
    if (n == 0L) { fsFor(dir).delete(dir, true); StagedDv(dir, Seq.empty, 0L) }
    else { // rows passed the observation, so its metrics are in
      val files = coverage.get("files").asInstanceOf[Seq[String]].sorted
      StagedDv(dir, counted.map(_.copy(covers = Some(files))), n) }
  }

  /** Re-land the DV set `dvs` under a rewrite: withdraw every entry and
    * restage only the positions into the `keep` files (recorded
    * `__dv_file` values) — the files a [[replacePartitions]] did not
    * replace, or the bearing files a scoped [[maintainIfNeeded]] did
    * not claim. `keep` joins as a broadcast semi-join against a paths
    * frame, not an `isin` over O(files) literals: at 100 TB it can be
    * tens of thousands of paths. The caller withdraws `dvs` in the same
    * commit that adds the returned batch. */
  private def relandDvs(spark: SparkSession, root: String, dvs: Seq[FileEntry],
                        keep: Seq[String]): StagedDv = {
    import org.apache.spark.sql.functions.broadcast
    val keepPaths = broadcast(spark.createDataset(keep)(
      org.apache.spark.sql.Encoders.STRING).toDF("__dv_file"))
    stageDvBatch(root, "w",
      readDvs(spark, dvs.map(_.path)).join(keepPaths, Seq("__dv_file"), "left_semi"))
  }

  /** The DV files `paths` as a Spark scan in [[dvSchema]]: a re-land's input. */
  private def readDvs(spark: SparkSession, paths: Seq[String]): DataFrame =
    spark.read.schema(dvSchema).parquet(paths: _*)

  /** Version `v`'s live rows (its DVs applied) with their positions —
    * the frame every row-level op matches against. The FileIndex
    * relation, not a raw leaf-file read: partition columns are served,
    * so conditions may reference them. */
  private[sources] def liveWithPositions(spark: SparkSession, root: String,
                                         v: Int): DataFrame =
    joinDeletes(SnapshotFileIndex.snapshotDF(spark, root, Some(v),
      subtractDeletes = false), dvEntries(root, v), keepPositions = true)

  /** Logically delete the live snapshot's rows matching `cond`:
    * positions of surviving matches land as a DV batch and ONE commit
    * publishes them (no data file is rewritten — audited by callers as
    * manifest equality across the delete). Returns (new version,
    * deleted row count). Commits through [[commitRowLevel]]: a
    * concurrent commit that could change the matches — an overlapping
    * append, another DV commit, a replace or compaction — aborts it,
    * the abort Delta raises for DELETE vs OPTIMIZE races; the caller
    * retries against the new snapshot. */
  def deleteWhere(spark: SparkSession, root: String,
                  cond: org.apache.spark.sql.Column): (Int, Long) = {
    import org.apache.spark.sql.functions.col
    val v = latestVersion(root)
    val live = liveWithPositions(spark, root, v)
    val staged = stageDvBatch(root, "d",
      live.filter(cond).select(col("__dv_file"), col("__dv_pos")))
    if (staged.rows == 0L) return (v, 0L)
    // the predicate's necessary envelope, for narrowing concurrent-
    // append conflicts: an appended file whose stats are disjoint from
    // `cond`'s bounds provably holds no row this delete should have
    // matched, so skipping it is safe (the Delta ConcurrentAppend
    // narrowing); unprovable shapes keep the conservative abort
    val (condLb, condSb) = condBounds(live, cond)
    val nv = commitRowLevel("deleteWhere", root, v, Some(staged), None,
        entryProvablyUnmatched(_, condLb, condSb)) { nv =>
      tryCommitEntries(root, nv, adds = Seq.empty, removes = Seq.empty,
        dvAdds = staged.entries)
    }
    (nv, staged.rows)
  }

  /** The row-level ops' conflict check on [[commitLoop]] —
    * [[deleteWhere]], [[mergeOnRead]], [[mergeInto]], [[updateWhere]]
    * and [[maintainIfNeeded]] publish through it: each attempt checks
    * the commits since `readV`, then tries to publish `latest + 1` with
    * `publish`.
    *
    * The conflict rule is the concurrent-write abort every table format
    * raises when a row-level op's snapshot went stale: its matched
    * positions (or its rewrite selection) were computed at `readV`, and
    * an intervening commit may have added rows that match
    * (append/merge), removed rows the match relied on (delete), or
    * rewritten the files the positions index (replace). Every
    * intervening commit with removes or a DV reset aborts, as does
    * every DV commit and an expired one. NARROWED the way Delta narrows
    * ConcurrentAppend: an ADDS-ONLY commit whose every added file
    * `provablyUnmatched` (from the log-carried stats — no data IO) is
    * safe to skip — the op's positions stay valid (appends never touch
    * existing files) and none of the new rows belong in its matched
    * set, so a hot appender does not livelock a delete/merge out of its
    * retries. Everything else aborts (refusing is always sound).
    * [[maintainIfNeeded]] passes "every append is safe": appended files
    * are disjoint from its selection and carry no DV positions.
    *
    * The rule is also why no op re-checks that the files its positions
    * reference are still live: within one table's life only a commit
    * with removes or a DV reset can take a file out, the rule refuses
    * every such commit after `readV`, and the exclusive publish of
    * `latest + 1` lets nothing land between the check and the commit.
    * A drop deletes the whole root, and a table recreated there starts
    * its versions again from 1: the op aborts as stale when `latest`
    * fell below `readV` or its staged DV batch is gone.
    *
    * On an abort — a stale snapshot or 100 lost races — the loop
    * deletes the op's `staged` DV batch and its data batch `batch`: no
    * version will ever reference them. */
  private def commitRowLevel(op: String, root: String, readV: Int,
                             staged: Option[StagedDv], batch: Option[String],
                             provablyUnmatched: FileEntry => Boolean)(
                             publish: Int => Boolean): Int =
    commitLoop(op, root, staged, batch) { latest =>
      val recreated = latest < readV ||
        staged.exists(s => s.entries.nonEmpty && !fsFor(s.dir).exists(s.dir))
      val kinds =
        if (recreated) Seq("drop/recreate")
        else ((readV + 1) to latest).flatMap { cv =>
          if (!commitExists(root, cv)) Some("expired")
          else {
            val d = commitDeltaFull(root, cv)
            if (d.removes.nonEmpty || d.dvReset) Some("replace")
            else if (d.dvAdds.nonEmpty || d.dvRemoves.nonEmpty) Some("delete/merge")
            else if (d.adds.forall(provablyUnmatched)) None // disjoint append
            else Some("append")
          }
        }
      if (kinds.nonEmpty)
        throw new java.util.ConcurrentModificationException(
          s"$op on $root: version moved $readV -> $latest under the op " +
            s"(intervening: ${kinds.mkString(", ")}) — its snapshot is " +
            "stale; retry against the new snapshot")
      Option.when(publish(latest + 1))(latest + 1)
    }

  /** True when `e`'s log-carried stats prove NO row of the file can
    * satisfy the envelope `(longBounds, strBounds)` (a necessary
    * condition extracted from a predicate or key set): disjoint in ANY
    * bound column suffices. Files lacking stats for every bound column
    * prove nothing (false — the caller aborts, conservatively). */
  private def entryProvablyUnmatched(
      e: FileEntry,
      lb: Map[String, (Long, Long)],
      sb: Map[String, (Option[Array[Byte]], Option[Array[Byte]])]): Boolean = {
    val longDisjoint = lb.exists { case (c, (lo, hi)) =>
      e.stats.get(c) match {
        case Some(("long", mn, mx)) => mx.toLong < lo || mn.toLong > hi
        case _                      => false
      }
    }
    def strDisjoint = sb.exists { case (c, (lo, hi)) =>
      e.stats.get(c) match {
        case Some(("string", mn, mx)) =>
          lo.exists(l => cmpUtf8(statStrBytes(mx), l) < 0) ||
            hi.exists(h => cmpUtf8(statStrBytes(mn), h) > 0)
        case _ => false
      }
    }
    longDisjoint || strDisjoint
  }

  /** MERGE-on-read (upsert): rows of the live snapshot whose key
    * matches a row in `updates` are DV-deleted and `updates` lands
    * whole as a new data batch — BOTH in ONE atomic commit (the delta
    * log carries data adds and DV adds together), so a reader resolves
    * either the pre-merge or the post-merge table, never a state with
    * the old row gone and the new one missing (or both present). Cost
    * is O(updates + matched positions): no target file is rewritten —
    * the Delta/Iceberg merge-on-read shape, vs src12's copy-on-write
    * MERGE which rewrites the touched partition. Returns (version,
    * matched-row count). Commits through [[commitRowLevel]], narrowed
    * on the update keys' envelope. */
  def mergeOnRead(spark: SparkSession, root: String, updates: DataFrame,
                  keyCols: Seq[String], batch: String): (Int, Long) = {
    import org.apache.spark.sql.functions.{broadcast, col}
    // replay-refusal FIRST (the append/replace contract): a redelivered
    // merge would recompute "matched" against the already-merged table
    // — the update rows themselves — and DV-delete its own output
    if (isBatchCommitted(root, batch)) return (latestVersion(root), 0L)
    val v = latestVersion(root)
    val live = liveWithPositions(spark, root, v)
    val keys = updates.select(keyCols.map(col): _*).distinct()
    val staged = stageDvBatch(root, "m",
      live.join(broadcast(keys), keyCols, "left_semi")
        .select(col("__dv_file"), col("__dv_pos")))
    // the update batch lands with the full log record (sizes, stats,
    // schema, spec) like any append — laid out per the table's
    // committed partition spec so hive-style pruning stays sound
    val spec = partitionSpecAt(root, v).map(_.fieldNames.toSeq)
      .getOrElse(Seq.empty)
    val (newEntries, schemaJson, partJson) =
      if (isBatchCommitted(root, batch))
        (committedBatchFiles(root, batch).map(FileEntry(_)), None, None)
      else stagingAfterDv(root, Some(staged), batch)(
        stageBatch(updates, root, batch, spec, recordStats = true))
    // the key set's necessary envelope (per-keyCol [min, max] over the
    // update keys), for the same concurrent-append narrowing as
    // [[deleteWhere]]: an appended file disjoint from the envelope in
    // any key column cannot contain a row whose full key matches any
    // update (a concurrent append with matching keys would otherwise
    // leave the duplicate keys the upsert contract forbids). Computed
    // lazily — only a CAS collision pays the tiny agg.
    lazy val (keyLb, keySb) = keyEnvelope(keys, keyCols)
    val nv = commitRowLevel("mergeOnRead", root, v, Some(staged), Some(batch),
        entryProvablyUnmatched(_, keyLb, keySb)) { nv =>
      tryCommitEntries(root, nv, adds = newEntries.distinct.sortBy(_.path),
        removes = Seq.empty, dvAdds = staged.entries,
        schemaJson = schemaJson, partJson = partJson)
    }
    (nv, staged.rows)
  }

  /** `cond`'s necessary envelope over `df`'s columns, for the same
    * narrowed abort. The RESOLVED condition comes off the analyzed
    * filter plan — a Spark 4 Column is a lazy node tree, not a catalyst
    * expression. */
  private def condBounds(df: DataFrame, cond: org.apache.spark.sql.Column)
      : (Map[String, (Long, Long)],
         Map[String, (Option[Array[Byte]], Option[Array[Byte]])]) =
    df.filter(cond).queryExecution.analyzed.collectFirst {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
        SnapshotFileIndex.predicateBounds(Seq(f.condition))
    }.getOrElse((Map.empty, Map.empty))

  /** The per-column [min, max] envelope of a key set — the necessary
    * condition [[entryProvablyUnmatched]] tests appended files against
    * in the narrowed concurrent-commit abort. */
  private def keyEnvelope(keys: DataFrame, keyCols: Seq[String])
      : (Map[String, (Long, Long)],
         Map[String, (Option[Array[Byte]], Option[Array[Byte]])]) = {
    import org.apache.spark.sql.functions.{col, max => smax, min => smin}
    val aggs = keyCols.flatMap(c => Seq(smin(col(c)), smax(col(c))))
    val r = keys.agg(aggs.head, aggs.tail: _*).head()
    val lb = collection.mutable.Map.empty[String, (Long, Long)]
    val sb = collection.mutable.Map
      .empty[String, (Option[Array[Byte]], Option[Array[Byte]])]
    keyCols.zipWithIndex.foreach { case (c, i) =>
      (r.get(2 * i), r.get(2 * i + 1)) match {
        case (mn: Long, mx: Long) => lb(c) = (mn, mx)
        case (mn: Integer, mx: Integer) => lb(c) = (mn.toLong, mx.toLong)
        case (mn: String, mx: String) =>
          sb(c) = (Some(mn.getBytes("UTF-8")), Some(mx.getBytes("UTF-8")))
        case _ => () // no envelope for this key column's type
      }
    }
    (lb.toMap, sb.toMap)
  }

  /** One WHEN clause of a generalized [[mergeInto]]. Conditions and
    * expressions reference TARGET columns by bare name and SOURCE
    * columns prefixed `__src_` (the join frame's naming — the SQL
    * rewrite builds them that way from the resolved sides). */
  sealed trait MergeMatchedClause { def condition: Option[org.apache.spark.sql.Column] }
  /** `WHEN MATCHED [AND cond] THEN UPDATE SET ...` — `set` pairs are
    * (target column, expression over the joined row). */
  final case class MergeUpdateClause(
      condition: Option[org.apache.spark.sql.Column],
      set: Seq[(String, org.apache.spark.sql.Column)]) extends MergeMatchedClause
  /** `WHEN MATCHED [AND cond] THEN DELETE`. */
  final case class MergeDeleteClause(
      condition: Option[org.apache.spark.sql.Column]) extends MergeMatchedClause
  /** `WHEN NOT MATCHED [AND cond] THEN INSERT (...) VALUES (...)` —
    * unassigned table columns insert NULL. */
  final case class MergeInsertClause(
      condition: Option[org.apache.spark.sql.Column],
      values: Seq[(String, org.apache.spark.sql.Column)])

  /** GENERALIZED MERGE on read — the full Delta-user matched-action
    * matrix ([[mergeOnRead]] is the unconditioned star-upsert fast
    * path): conditioned and partial `WHEN MATCHED ... UPDATE`,
    * `WHEN MATCHED ... DELETE`, conditioned `WHEN NOT MATCHED ...
    * INSERT`, and `WHEN NOT MATCHED BY SOURCE ... UPDATE/DELETE`
    * (target rows matching NO source row — their clause expressions
    * reference target columns only), all landing as ONE atomic
    * merge-on-read commit — every ACTIONED target row's position
    * DV-deleted, the update clauses' transformed copies plus the
    * insert clauses' new rows appended together. Clause-order
    * semantics (the SQL standard / Delta rule): a matched row is
    * acted on by the FIRST matched clause whose condition holds, or
    * left untouched; an unmatched source row inserts per the first
    * not-matched clause whose condition holds; a target row unmatched
    * by the source takes the first by-source clause whose condition
    * holds. A target row matching MULTIPLE source rows (among
    * actioned rows) REFUSES loudly — the update/delete would be
    * non-deterministic (Delta raises the same error). Update
    * expressions evaluate against the PRE-merge row ([[updateWhere]]'s
    * one-projection rule). Cost is O(actioned + inserted rows): no
    * target file is rewritten (the by-source clauses SCAN the whole
    * table to find unmatched rows — inherent to their semantics — but
    * still write only the actioned positions/copies). Commits through
    * [[commitRowLevel]], narrowed on the source keys' envelope (not at
    * all under by-source clauses). Returns (version, actioned
    * target-row count). */
  def mergeInto(spark: SparkSession, root: String, source: DataFrame,
                keyCols: Seq[String],
                matched: Seq[MergeMatchedClause],
                notMatched: Seq[MergeInsertClause],
                batch: String,
                bySource: Seq[MergeMatchedClause] = Seq.empty): (Int, Long) = {
    import org.apache.spark.sql.functions.{col, lit, when}
    import org.apache.spark.sql.types.IntegerType
    if (isBatchCommitted(root, batch)) return (latestVersion(root), 0L)
    val v = latestVersion(root)
    val live = liveWithPositions(spark, root, v)
    val tableCols = live.columns.filterNot(Set("__dv_file", "__dv_pos")).toSeq
    val colType = live.schema.fields.map(f => f.name -> f.dataType).toMap
    (matched ++ bySource).collect {
      case MergeUpdateClause(_, set) => set.map(_._1) }
      .flatten.filterNot(tableCols.contains) match {
      case Seq() => ()
      case bad => sys.error(s"mergeInto on $root: UPDATE SET targets " +
        s"${bad.distinct.mkString(", ")} not in the table's columns")
    }
    notMatched.flatMap(_.values.map(_._1)).filterNot(tableCols.contains) match {
      case Seq() => ()
      case bad => sys.error(s"mergeInto on $root: INSERT targets " +
        s"${bad.distinct.mkString(", ")} not in the table's columns")
    }
    // the join frame: target columns bare, source columns __src_-
    // prefixed — both sides addressable from clause expressions. The
    // source is NOT force-broadcast ([[mergeOnRead]] broadcasts its
    // key set, which is always small; a generalized merge's source
    // carries full rows — AQE picks broadcast when it fits)
    val src = source.select(source.columns.map(c =>
      col(c).as(s"__src_$c")): _*)
    val joinCond = keyCols.map(k => col(k) === col(s"__src_$k")).reduce(_ && _)
    // first-matching-clause index; null = matched but no clause applies
    // (the row stays untouched)
    def firstClause(conds: Seq[Option[org.apache.spark.sql.Column]])
        : org.apache.spark.sql.Column =
      conds.zipWithIndex.foldRight(lit(null).cast(IntegerType)) {
        case ((c, i), acc) => when(c.getOrElse(lit(true)), lit(i)).otherwise(acc)
      }
    val actioned = live.join(src, joinCond, "inner")
      .withColumn("__mrg_action", firstClause(matched.map(_.condition)))
      .filter(col("__mrg_action").isNotNull)
    // target rows matching NO source row, first-applicable by-source
    // clause — an anti join on the broadcast-friendly key set; the
    // positions of both sides union into ONE DV batch (disjoint by
    // construction: matched vs unmatched partition the target)
    val bySrcActioned = bySource.headOption.map { _ =>
      live.join(src.select(keyCols.map(k => col(s"__src_$k")): _*),
          joinCond, "left_anti")
        .withColumn("__mrg_action", firstClause(bySource.map(_.condition)))
        .filter(col("__mrg_action").isNotNull)
    }
    val positions = actioned.select(col("__dv_file"), col("__dv_pos"))
    // non-deterministic multi-match refuses BEFORE anything commits: a
    // target row pairing with several source rows would be updated (or
    // deleted) per an arbitrary one of them — its position repeats
    val staged = stageDvBatch(root, "g", bySrcActioned.fold(positions)(b =>
      positions.unionByName(b.select(col("__dv_file"), col("__dv_pos")))),
      refuseRepeats = Some(s"mergeInto on $root: a target row matches multiple " +
        "source rows under the ON condition — the matched action would be " +
        "non-deterministic; de-duplicate the source on the merge keys"))
    val nActioned = staged.rows
    // the appended batch: each update clause's transformed copies (all
    // columns built against the ORIGINAL row in one projection) plus
    // each insert clause's new rows (unassigned columns NULL)
    val updateFrames = matched.zipWithIndex.collect {
      case (MergeUpdateClause(_, set), i) if nActioned > 0L =>
        val setMap = set.toMap
        // cast each column to the TABLE's type: a set expression of a
        // narrower type must not land files conflicting with the log
        // schema (the Delta storeAssignmentPolicy cast)
        actioned.filter(col("__mrg_action") === i)
          .select(tableCols.map(c =>
            setMap.getOrElse(c, col(c)).cast(colType(c)).as(c)): _*)
    } ++ bySource.zipWithIndex.collect {
      case (MergeUpdateClause(_, set), i) if nActioned > 0L =>
        val setMap = set.toMap
        bySrcActioned.get.filter(col("__mrg_action") === i)
          .select(tableCols.map(c =>
            setMap.getOrElse(c, col(c)).cast(colType(c)).as(c)): _*)
    }
    val insertFrames =
      if (notMatched.isEmpty) Seq.empty
      else {
        val unmatched = src.join(live.select(keyCols.map(col): _*),
            keyCols.map(k => col(s"__src_$k") === col(k)).reduce(_ && _),
            "left_anti")
          .withColumn("__mrg_ins", firstClause(notMatched.map(_.condition)))
          .filter(col("__mrg_ins").isNotNull)
        notMatched.zipWithIndex.map { case (MergeInsertClause(_, values), i) =>
          val valMap = values.toMap
          unmatched.filter(col("__mrg_ins") === i)
            .select(tableCols.map(c => valMap.get(c)
              .map(_.cast(colType(c)).as(c))
              .getOrElse(lit(null).cast(colType(c)).as(c))): _*)
        }
      }
    val appended = (updateFrames ++ insertFrames).reduceOption(_ unionByName _)
    if (nActioned == 0L && appended.isEmpty) return (v, 0L)
    val spec = partitionSpecAt(root, v).map(_.fieldNames.toSeq)
      .getOrElse(Seq.empty)
    val (newEntries, schemaJson, partJson) = appended match {
      case Some(df) => stagingAfterDv(root, Some(staged), batch)(
        stageBatch(df, root, batch, spec, recordStats = true))
      case None => (Seq.empty[FileEntry], schemaAt(root, v).map(_.json),
        partitionSpecAt(root, v).map(_.json))
    }
    lazy val (keyLb, keySb) = keyEnvelope(
      source.select(keyCols.map(col): _*).distinct(), keyCols)
    // the disjoint-keys narrowing is UNSOUND under by-source clauses:
    // a concurrent append disjoint from the source keys is exactly
    // what NOT MATCHED BY SOURCE acts on — those merges abort on any
    // intervening commit
    val nv = commitRowLevel("mergeInto", root, v, Some(staged), Some(batch),
        if (bySource.isEmpty) entryProvablyUnmatched(_, keyLb, keySb)
        else _ => false) { nv =>
      tryCommitEntries(root, nv,
        adds = newEntries.distinct.sortBy(_.path), removes = Seq.empty,
        dvAdds = staged.entries, schemaJson = schemaJson, partJson = partJson)
    }
    (nv, nActioned)
  }

  /** Row-level UPDATE on read (the DV twin of [[mergeOnRead]]): live
    * rows matching `cond` are DV-deleted and their TRANSFORMED copies
    * (each `set` assignment applied) land as a new data batch — both
    * in ONE atomic commit, so a reader resolves the pre- or post-update
    * table, never one missing (or duplicating) the touched rows. Cost
    * is O(matched rows): no target file is rewritten. Partitioned
    * tables re-lay the updated rows per the committed spec (an
    * assignment may MOVE a row across partitions — the hive layout
    * follows the new values). Commits through [[commitRowLevel]],
    * narrowed on `cond`'s envelope. Returns (version, updated row
    * count). */
  def updateWhere(spark: SparkSession, root: String,
                  cond: org.apache.spark.sql.Column,
                  set: Seq[(String, org.apache.spark.sql.Column)],
                  batch: String): (Int, Long) = {
    import org.apache.spark.sql.functions.col
    if (isBatchCommitted(root, batch)) return (latestVersion(root), 0L)
    val v = latestVersion(root)
    val live = liveWithPositions(spark, root, v)
    val tableCols = live.columns.filterNot(Set("__dv_file", "__dv_pos"))
    set.map(_._1).filterNot(tableCols.contains) match {
      case Seq() => ()
      case bad => sys.error(s"updateWhere on $root: SET targets " +
        s"${bad.mkString(", ")} not in the table's columns")
    }
    val matched = live.filter(cond)
    val staged = stageDvBatch(root, "u",
      matched.select(col("__dv_file"), col("__dv_pos")))
    if (staged.rows == 0L) return (v, 0L)
    // the transformed copies: ONE projection building every column
    // against the ORIGINAL row (SQL UPDATE semantics — `SET a = b,
    // b = a` swaps; a sequential withColumn chain would feed later
    // assignments the earlier ones' new values), metadata dropped,
    // original column order restored
    val setMap = set.toMap
    val updated = matched.select(tableCols.map(c =>
      setMap.getOrElse(c, col(c)).as(c)): _*)
    val spec = partitionSpecAt(root, v).map(_.fieldNames.toSeq)
      .getOrElse(Seq.empty)
    val (newEntries, schemaJson, partJson) = stagingAfterDv(root, Some(staged), batch)(
      stageBatch(updated, root, batch, spec, recordStats = true))
    val (condLb, condSb) = condBounds(live, cond)
    val nv = commitRowLevel("updateWhere", root, v, Some(staged), Some(batch),
        entryProvablyUnmatched(_, condLb, condSb)) { nv =>
      tryCommitEntries(root, nv,
        adds = newEntries.distinct.sortBy(_.path), removes = Seq.empty,
        dvAdds = staged.entries, schemaJson = schemaJson, partJson = partJson)
    }
    (nv, staged.rows)
  }

  /** Read a snapshot with its deletion vectors applied: the
    * [[readSnapshot]] scan with the in-effect (file, position) pairs
    * dropped by [[joinDeletes]]' filter. */
  def readSnapshotWithDeletes(spark: SparkSession, root: String,
                              version: Option[Int] = None,
                              mergeSchema: Boolean = false): DataFrame =
    SnapshotFileIndex.snapshotDF(spark, root, version, mergeSchema,
      subtractDeletes = true)

  // ---- file-level min/max skipping (Iceberg-style manifest stats) ----

  private def statsPath(root: String, batch: String, col: String) =
    new Path(s"$root/data/$batch/_stats_$col.txt")

  private def b64(s: String): String =
    java.util.Base64.getEncoder.encodeToString(s.getBytes("UTF-8"))
  private def unb64(s: String): String =
    new String(java.util.Base64.getDecoder.decode(s), "UTF-8")

  /** One footer pass over `files`, returning per-file (col → (kind,
    * min, max)) for every column whose parquet statistics the skipping
    * tier understands: INT64/INT32 (and therefore TIMESTAMP — Spark
    * writes TIMESTAMP_MICROS, whose stats are the epoch-micros longs)
    * as kind `long`; BINARY/UTF8 as kind `string`. Columns whose
    * footer lacks stats are omitted — skipping is an optimization,
    * never a correctness gate. */
  private def footerStats(files: Seq[String])
      : Seq[(String, Long, Map[String, (String, String, String)])] = {
    // footer reads are independent metadata RPCs — run them on a
    // bounded pool so committing a wide batch (hundreds of staged
    // files) isn't serial driver IO; traverse preserves input order
    // capture the session's conf HERE: the active session is
    // thread-local and invisible from pool threads
    val conf = hadoopConf
    if (files.size <= 1) footerStatsSeq(files, conf)
    else {
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(16, files.size))
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutorService(pool)
      try Await.result(
        Future.traverse(files)(f => Future(footerStatsSeq(Seq(f), conf).head)),
        Duration.Inf)
      finally pool.shutdown()
    }
  }

  private def footerStatsSeq(files: Seq[String], conf: Configuration)
      : Seq[(String, Long, Map[String, (String, String, String)])] = {
    files.map { f =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile
        .fromPath(new Path(f), conf)
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try {
        import scala.jdk.CollectionConverters._
        val perCol = collection.mutable.Map
          .empty[String, (String, String, String)]
        var rowCount = 0L
        reader.getFooter.getBlocks.asScala.foreach { b =>
          rowCount += b.getRowCount
          b.getColumns.asScala.foreach { c =>
            val st = c.getStatistics
            if (st != null && st.hasNonNullValue) {
              val name = c.getPath.toDotString
              val kv: Option[(String, String, String)] =
                (st.genericGetMin, st.genericGetMax) match {
                  case (mn: java.lang.Long, mx: java.lang.Long) =>
                    Some(("long", mn.toString, mx.toString))
                  case (mn: java.lang.Integer, mx: java.lang.Integer) =>
                    Some(("long", mn.toString, mx.toString))
                  case (mn: org.apache.parquet.io.api.Binary,
                        mx: org.apache.parquet.io.api.Binary)
                      if c.getPrimitiveType.getLogicalTypeAnnotation ==
                        org.apache.parquet.schema.LogicalTypeAnnotation
                          .stringType() =>
                    Some(("string", b64(mn.toStringUsingUTF8),
                      b64(mx.toStringUsingUTF8)))
                  case _ => None
                }
              kv.foreach { case (kind, mn, mx) =>
                perCol.get(name) match {
                  case None => perCol(name) = (kind, mn, mx)
                  case Some((k0, mn0, mx0)) if k0 == kind =>
                    val (lo, hi) =
                      if (kind == "long")
                        (math.min(mn0.toLong, mn.toLong).toString,
                         math.max(mx0.toLong, mx.toLong).toString)
                      else // parquet's bytewise order, never UTF-16's
                        (if (cmpUtf8(statStrBytes(mn0), statStrBytes(mn)) <= 0) mn0 else mn,
                         if (cmpUtf8(statStrBytes(mx0), statStrBytes(mx)) >= 0) mx0 else mx)
                    perCol(name) = (kind, lo, hi)
                  case _ => // kind flipped across row groups: drop stats
                    perCol.remove(name)
                    ()
                }
              }
            }
          }
        }
        (f, rowCount, perCol.toMap)
      } finally reader.close()
    }
  }

  /** Record per-file [min, max] of ONE column for an already-staged
    * batch (the single-column form of [[autoColumnStats]]). */
  def writeColumnStats(root: String, batch: String, col: String,
                       files: Seq[String]): Unit = {
    val lines = footerStats(files).flatMap { case (f, _, m) =>
      m.get(col).map { case (kind, mn, mx) => s"$f\t$kind\t$mn\t$mx" }
    }
    val p = statsPath(root, batch, col)
    val fs = fsFor(p)
    val tmp = new Path(p.getParent, s".${p.getName}.tmp")
    writeUtf8(fs, tmp, lines.mkString("\n") + "\n")
    fs.rename(tmp, p)
    ()
  }

  /** Per-file (kind, min, max) for `col` that [[writeColumnStats]]
    * recorded in the sidecars of `files`' batches — the stats of
    * path-only entries ([[commitRetry]] commits), which the log does not
    * carry; [[SnapshotFileIndex]] falls back to it for exactly those.
    * Malformed or truncated sidecar lines are SKIPPED (the file reads as
    * stats-less, i.e. conservatively kept) — a stats sidecar must never
    * turn a skipping optimization into a read failure. */
  private[sources] def sidecarStats(root: String, files: Seq[String], col: String)
      : Map[String, (String, String, String)] =
    files.map(f => new Path(f).getParent.getName).distinct
      .flatMap { batch =>
        val p = statsPath(root, batch, col)
        val fs = fsFor(p)
        if (!fs.exists(p)) Seq.empty
        else try {
          readUtf8(fs, p).linesIterator.filter(_.nonEmpty).flatMap { l =>
            l.split("\t") match {
              case Array(path, kind, mn, mx) => Some(path -> (kind, mn, mx))
              // legacy 3-field (pre-typed) sidecar: long min/max
              case Array(path, mn, mx)
                  if mn.forall(c => c.isDigit || c == '-') =>
                Some(path -> ("long", mn, mx))
              case _ => None // torn/corrupt line: conservatively stats-less
            }
          }.toSeq
        } catch {
          // an unreadable sidecar (torn write, checksum mismatch) makes
          // its batch stats-less — conservatively read, never a failure
          case _: java.io.IOException => Seq.empty
        }
      }.toMap

  /** A recorded string bound as its raw UTF-8 bytes. Parquet UTF8
    * min/max statistics order by UNSIGNED BYTE comparison — which
    * diverges from Java's UTF-16 code-unit `String` order for
    * non-ASCII data (supplementary code points sort above U+E000..FFFF
    * bytewise but below them in UTF-16) — so every pruning comparison
    * against these bounds must be bytewise, never `String < String`. */
  private[sources] def statStrBytes(enc: String): Array[Byte] =
    java.util.Base64.getDecoder.decode(enc)

  /** Unsigned-bytewise comparison — the parquet UTF8 stats order. */
  private[sources] def cmpUtf8(a: Array[Byte], b: Array[Byte]): Int =
    java.util.Arrays.compareUnsigned(a, b)

  private def readUtf8(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try {
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
      new String(out.toByteArray, "UTF-8")
    } finally in.close()
  }

  private def writeUtf8(fs: FileSystem, p: Path, s: String): Unit = {
    val out = fs.create(p, true)
    try out.write(s.getBytes("UTF-8"))
    finally out.close()
  }
}
