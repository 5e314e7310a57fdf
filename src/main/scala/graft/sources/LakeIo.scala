package graft.sources

import java.net.{URLDecoder, URLEncoder}
import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{ChecksumFileSystem, FileContext, FileSystem, Options, Path}

/** Atomic publication for the lake layer's metadata files.
  *
  * A metadata file written with `create(path)` is VISIBLE (exists,
  * zero bytes) before its content lands, so any concurrent reader —
  * a log scan, a schema load, an index-freshness check — can catch a
  * torn read ("no content to map" from an empty commit record was the
  * witnessed failure, killing a live maintenance stream mid-poll).
  * Every publication therefore goes content-first: bytes land under a
  * dot-prefixed tmp sibling no glob or listing matches, and ONE rename
  * publishes the finished file. Two flavors:
  *   - [[atomicOverwrite]] — replace-or-create (schema, stamps,
  *     watermarks, and the table's side files of rows through
  *     [[writeRows]]/[[readRows]]): a reader sees the old content or the
  *     new, never neither;
  *   - [[renamePublish]] — first-writer-wins (commit records): the
  *     publish REFUSES an existing destination, preserving the
  *     optimistic-concurrency semantics `create(path, false)` gave,
  *     without its torn window.
  *
  * Two filesystem regimes, because their atomic primitives differ:
  *   - LOCAL (`ChecksumFileSystem`): all ops go through the RAW
  *     filesystem — metadata files carry no `.crc` sidecar, so an
  *     overwrite is ONE POSIX rename (atomic, windowless) instead of
  *     the checksummed pair whose two-op move can cross one writer's
  *     bytes with another's checksum (hadoop 3.4.2's ChecksumFs renames
  *     data then crc WITHOUT overwrite — disassembled); readers via the
  *     checksummed fs skip verification for crc-less files, which is
  *     the standard external-file behavior. Any legacy sidecar is
  *     removed at publish so it can never go stale. Exclusive publish
  *     claims the destination with a HARD LINK — link(2) refuses an
  *     existing name atomically at the kernel — so first-writer-wins
  *     holds ACROSS PROCESSES, not just across threads of one JVM
  *     (CrossProcessProbe races two JVMs' commit claims on one table);
  *     the per-dir in-JVM lock remains as a fast-path serializer.
  *   - REMOTE (HDFS & co): FileContext rename, with and without
  *     OVERWRITE — server-side atomic, the Delta HDFS LogStore
  *     protocol. FileContexts are cached per scheme/authority
  *     (getFileContext reflects a fresh AbstractFileSystem per call — a
  *     measurable per-commit tax when uncached).
  */
object LakeIo {

  /** Dot-prefixed tmp names this module writes — vacuum sweeps match
    * on it to reclaim crash debris.
    */
  val TmpPrefix = ".tmp_"

  // ---------------------------------------------------------------- //
  // Storage-substrate honesty: the commit protocol's exclusivity      //
  // primitives (hard link / rename-refuse) DO NOT EXIST on S3-class   //
  // object stores, and running the protocol there anyway loses        //
  // commits under exactly the races the local/HDFS machinery wins.    //
  // Scheme detection below REFUSES those substrates by default; the   //
  // opt-in modes replace the claim primitive with one the substrate   //
  // can honor (the public Delta LogStore design: single-writer        //
  // in-process arbitration, or an external claim coordinator à la     //
  // the DynamoDB LogStore).                                           //
  // ---------------------------------------------------------------- //

  /** Schemes whose filesystems are object stores: no atomic rename
    * (rename is client-side copy+delete), no hard links, no
    * refuse-on-existing-destination — every primitive the claim
    * protocol leans on. Writes ARE whole-object atomic PUTs (readers
    * never observe a partial object), which is what the opt-in modes
    * build on.
    */
  private val ObjectStoreSchemes = Set(
    "s3", "s3a", "s3n", "gs", "wasb", "wasbs", "abfs", "abfss",
    "oss", "cos", "cosn", "swift", "obs")

  /** Best-effort scheme of `fs` ([[FileSystem.getScheme]] when the
    * implementation provides it, else the instance URI's).
    */
  private def schemeOf(fs: FileSystem): String = {
    val s =
      try fs.getScheme
      catch { case _: UnsupportedOperationException => null }
    Option(s).orElse(Option(fs.getUri).flatMap(u => Option(u.getScheme)))
      .getOrElse("")
      .toLowerCase(java.util.Locale.ROOT)
  }

  /** True iff `fs` is an S3-class object store (by scheme). */
  def isObjectStore(fs: FileSystem): Boolean =
    ObjectStoreSchemes.contains(schemeOf(fs))

  /** External first-writer-wins arbiter for object-store MULTI-writer
    * commits — the seam the public Delta S3 multi-cluster LogStore
    * fills with DynamoDB conditional writes. `claim` must return true
    * for exactly one caller per key ACROSS ALL PROCESSES, durably
    * recording that caller's `stagedRef` with the claim; the winning
    * content is then PUT at the claimed name (whole-object atomic, so
    * readers see nothing until the object is complete).
    *
    * The stagedRef is the RECOVERY pointer (the DynamoDB LogStore's
    * incomplete-entry completion): the caller stages its full content at
    * a readable object BEFORE claiming, so a winner that crashes between
    * its claim and its PUT leaves a record ANY process can complete.
    * Without it, a crashed winner consumes the claimed version with no
    * object behind it, nextVersion never advances, and every subsequent
    * writer loses the "race" forever — the table wedges permanently.
    */
  trait ClaimCoordinator {
    /** True for exactly ONE caller per `key`, recording `stagedRef`. */
    def claim(key: String, stagedRef: String): Boolean
    /** The stagedRef the winning claim recorded, if `key` is claimed. */
    def claimedRef(key: String): Option[String]
    /** Drop the claim record for `key`, making it claimable again.
      * Commit-log records never call this (they are publish-once —
      * versions only move forward); it exists for CLAIM-RELEASE SLOTS,
      * concretely the table's single staged-rewrite claim
      * ([[LakeTable.claimStage]]): the slot object is deleted when the
      * rewrite finishes, and without releasing the coordinator record
      * the NEXT rewrite's claim would lose forever against a record
      * whose object and staged ref are both long gone — wedging every
      * future staged rewrite on the table. Default no-op keeps
      * append-only coordinators source-compatible; implement it (a
      * conditional-write service's delete) before running staged
      * rewrites (upsert/delete/optimize) under Coordinated mode.
      *
      * Note the same persistence property means DROPPING a table and
      * recreating it at the same path under Coordinated mode requires
      * resetting the coordinator's entries for that path — version-0
      * commit keys repeat, like the public Delta DynamoDB LogStore's
      * retained entries.
      */
    def release(key: String): Unit = ()
  }

  /** How object-store substrates are handled. Process-wide because the
    * contract it selects is itself process-scoped (SingleWriter) or
    * externally scoped (Coordinated).
    */
  sealed trait ObjectStoreMode
  /** Default: refuse with an error naming the missing contract. */
  case object Refuse extends ObjectStoreMode
  /** The Delta "S3 single-driver" contract: ONE writer process per
    * table; claims arbitrate in-process (exists-check + whole-object
    * PUT under the per-dir lock). Exact for one process, UNSAFE if two
    * processes write one table — that needs [[Coordinated]].
    */
  case object SingleWriter extends ObjectStoreMode
  /** Multi-writer object-store commits through an external
    * [[ClaimCoordinator]] (conditional-write service, lock table, …).
    */
  final case class Coordinated(coordinator: ClaimCoordinator) extends ObjectStoreMode

  @volatile var objectStoreMode: ObjectStoreMode = Refuse

  private def refuseObjectStore(fs: FileSystem, path: Path, op: String): Nothing =
    throw new IllegalStateException(
      s"$op at $path: the ${schemeOf(fs)}:// substrate is an object store " +
        "with no atomic rename, no hard links and no " +
        "refuse-on-existing-destination — the primitives this lake's " +
        "commit protocol requires (POSIX rename/link(2) locally, " +
        "FileContext rename on HDFS-class stores). Running it here would " +
        "silently lose commits under concurrent writers. Opt in " +
        "explicitly: LakeIo.objectStoreMode = LakeIo.SingleWriter (ONE " +
        "writer process per table, Delta's S3 single-driver contract) or " +
        "LakeIo.Coordinated(coordinator) (external first-writer-wins " +
        "service for multi-writer). See README \"Storage substrates\".")

  /** Fail fast (BEFORE any data job runs) when `fs` is an object store
    * and no opt-in mode is set — the same refusal the first metadata
    * publication would raise, surfaced at operation entry. Under
    * SingleWriter the ownership stamp is checked here too: a second
    * process attaching a live table must refuse before it stages (and a
    * crash-recovery later attributes) a single row, not at its commit.
    */
  def requireCommitCapable(fs: FileSystem, path: Path, op: String): Unit =
    if (isObjectStore(fs)) objectStoreMode match {
      case Refuse => refuseObjectStore(fs, path, op)
      case SingleWriter =>
        ensureSingleWriterOwnership(
          fs, fs.makeQualified(new Path(path, LakeTable.LogDirName)))
      case _ => ()
    }

  /** Whole-object PUT: on a real object store create()'s stream uploads
    * and the object becomes visible ATOMICALLY at close — no tmp, no
    * rename, no partial-content window. Last writer wins.
    */
  private def putWhole(fs: FileSystem, path: Path, text: String): Unit = {
    val out = fs.create(path, true)
    try out.write(text.getBytes(StandardCharsets.UTF_8))
    finally out.close()
  }

  private def tmpSibling(path: Path): Path =
    new Path(path.getParent,
      s"$TmpPrefix${java.util.UUID.randomUUID().toString.replace("-", "")}")

  /** The raw (sidecar-free) filesystem for local paths; identity
    * elsewhere. Metadata through raw = half the ops and no crc to race.
    */
  private def rawFor(fs: FileSystem): FileSystem = fs match {
    case c: ChecksumFileSystem => c.getRawFileSystem
    case other                 => other
  }

  private def writeTmp(fs: FileSystem, path: Path, text: String): Path = {
    val tmp = tmpSibling(path)
    val out = fs.create(tmp, true)
    try out.write(text.getBytes(StandardCharsets.UTF_8))
    finally out.close()
    tmp
  }

  /** Drop a legacy checksum sidecar so a raw (crc-less) publish can
    * never leave a stale crc that fails every subsequent read.
    */
  private def dropSidecar(c: ChecksumFileSystem, path: Path): Unit = {
    val crc = c.getChecksumFile(path)
    val raw = c.getRawFileSystem
    if (raw.exists(crc)) raw.delete(crc, false): Unit
  }

  // one FileContext per (scheme, authority); thread-safe as used here
  // (no umask/working-dir mutation)
  private val fileContexts =
    new java.util.concurrent.ConcurrentHashMap[String, FileContext]()

  private def contextFor(fs: FileSystem, path: Path): FileContext = {
    val uri = fs.makeQualified(path).toUri
    val key = uri.getScheme + "://" + Option(uri.getAuthority).getOrElse("")
    fileContexts.computeIfAbsent(key,
      _ => FileContext.getFileContext(uri, fs.getConf))
  }

  // in-JVM serialization for the exclusive publish: the local layers'
  // dst-exists checks are check-then-rename, so two same-JVM racers
  // need the lock to keep first-writer-wins exact. Keyed by PARENT dir
  // (one entry per log dir, bounded by table count) — a full-path key
  // would grow one never-evicted entry per commit record forever in a
  // long-lived driver. Coarser is harmless: same-dir publishes are
  // near-instant metadata ops, and same-table commits already serialize
  // on CommitLog's own lock.
  private val publishLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** A publication failure caused by the destination's PARENT DIRECTORY
    * moving mid-publish — a staged swap's gather renames the whole log
    * dir into its stage while a concurrent commit is between its tmp
    * create and its rename (witnessed as `chmod: cannot access .tmp_*`
    * from the create's permission step in CrossProcessProbe phase B).
    * Transient by design: the swap contract says racing commits land in
    * a RECREATED live log dir (where the post-swap audit sees them), and
    * a retried publication recreates it via create/mkdirs. Bounded, so
    * real failures (permissions, full disk) still surface.
    */
  private def parentTorn(e: Throwable): Boolean = {
    var c: Throwable = e
    while (c != null) {
      if (c.isInstanceOf[java.io.FileNotFoundException]) return true
      val m = c.getMessage
      if (m != null && (m.contains("No such file or directory") ||
          m.startsWith("could not publish"))) return true
      c = if (c.getCause != c) c.getCause else null
    }
    false
  }

  private def retryParentTorn[T](fs: FileSystem, path: Path)(body: => T): T = {
    var attempt = 0
    while (true) {
      try return body
      catch {
        case e: java.io.IOException if parentTorn(e) && attempt < 8 =>
          attempt += 1
          try fs.mkdirs(path.getParent): Unit
          catch { case _: java.io.IOException => () }
          Thread.sleep(10L * attempt)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Publish `text` at `path`, atomically replacing any previous
    * content.
    */
  def atomicOverwrite(fs: FileSystem, path: Path, text: String): Unit =
    if (isObjectStore(fs)) objectStoreMode match {
      case Refuse => refuseObjectStore(fs, path, "atomicOverwrite")
      // replace-or-create IS the object store's native op: one whole-
      // object PUT, atomic at close, last writer wins — the tmp+rename
      // dance exists only where create() exposes partial content
      case _ => putWhole(fs, path, text)
    }
    else retryParentTorn(fs, path)(atomicOverwriteOnce(fs, path, text))

  private def atomicOverwriteOnce(fs: FileSystem, path: Path, text: String): Unit = fs match {
    case c: ChecksumFileSystem =>
      val raw = c.getRawFileSystem
      val tmp = writeTmp(raw, path, text)
      dropSidecar(c, path)
      // ONE POSIX rename: atomic replace, no absence window, no crc
      if (!raw.rename(tmp, path))
        throw new java.io.IOException(
          s"could not publish $path: rename $tmp -> $path failed")
    case other =>
      val tmp = writeTmp(other, path, text)
      var attempt = 0
      while (true) {
        try {
          contextFor(other, path).rename(
            other.makeQualified(tmp), other.makeQualified(path),
            Options.Rename.OVERWRITE)
          return
        } catch {
          // a concurrent overwriter's rename landed inside ours —
          // re-running the whole OVERWRITE converges (both contents
          // were complete files; last writer wins)
          case _: org.apache.hadoop.fs.FileAlreadyExistsException |
              _: java.nio.file.FileAlreadyExistsException if attempt < 8 =>
            attempt += 1
            Thread.sleep(10L * attempt)
          case _: UnsupportedOperationException |
              _: org.apache.hadoop.fs.UnsupportedFileSystemException =>
            if (other.exists(path)) other.delete(path, false): Unit
            if (!other.rename(tmp, path))
              throw new java.io.IOException(
                s"could not publish $path: rename $tmp -> $path failed")
            return
        }
      }
  }

  /** Read a metadata file published through [[atomicOverwrite]],
    * absorbing the transient artifacts a read racing a republish can
    * still show: a vanish between the exists check and the open (the
    * rename is atomic, the check-then-open pair is not) and, on legacy
    * checksummed files, a brief data/.crc mismatch. Both resolve on a
    * re-read because the writer's content is always a complete file;
    * after `attempts` the error is real and surfaces. A durably absent
    * file returns None immediately — under the one-rename publication
    * there is no absence window to wait out (this is every serve's
    * fast path for unstamped indexes).
    */
  def resilientRead(fs: FileSystem, path: Path, attempts: Int = 8): Option[String] = {
    var attempt = 0
    while (true) {
      try {
        if (!fs.exists(path)) return None
        val in = fs.open(path)
        try return Some(new String(
          org.apache.commons.io.IOUtils.toByteArray(in), StandardCharsets.UTF_8))
        finally in.close()
      } catch {
        case e @ (_: java.io.FileNotFoundException |
            _: org.apache.hadoop.fs.ChecksumException) =>
          if (attempt >= attempts) throw e
      }
      attempt += 1
      Thread.sleep(25L * attempt)
    }
    None // unreachable
  }

  /** Read a side file of rows published by [[writeRows]]: one row per
    * non-empty line, fields tab-separated and URL-encoded, so a field
    * may hold any text (tabs and newlines included) and an empty
    * trailing field survives. Read through [[resilientRead]]; an absent
    * file has no rows. `row` maps one row's decoded fields to the
    * caller's shape. A line it rejects, or whose fields fail to decode
    * or convert (any IllegalArgumentException), raises an
    * IllegalStateException naming `what` and the file.
    */
  def readRows[T](fs: FileSystem, path: Path, what: String, remedy: String = "")(
      row: PartialFunction[Seq[String], T]): Seq[T] =
    resilientRead(fs, path).fold(Seq.empty[T]) { text =>
      text.linesIterator.filter(_.nonEmpty).map { line =>
        def unreadable = new IllegalStateException(
          s"unreadable $what file at $path (line: ${line.take(80)})" +
            (if (remedy.isEmpty) "" else s" — $remedy"))
        try row.applyOrElse(
          line.split("\t", -1).toSeq.map(URLDecoder.decode(_, StandardCharsets.UTF_8)),
          (_: Seq[String]) => throw unreadable)
        catch { case _: IllegalArgumentException => throw unreadable }
      }.toList
    }

  /** Publish `rows` at `path` in [[readRows]]'s format through
    * [[atomicOverwrite]], creating the parent directory if it is missing.
    */
  def writeRows(fs: FileSystem, path: Path, rows: Seq[Seq[String]]): Unit = {
    if (!fs.exists(path.getParent)) fs.mkdirs(path.getParent)
    atomicOverwrite(fs, path, rows.map(
      _.map(URLEncoder.encode(_, StandardCharsets.UTF_8)).mkString("\t")).mkString("\n"))
  }

  /** Publish `text` at `path` iff nothing is there — the atomic claim
    * a commit record needs. Returns false (and cleans its tmp) when a
    * concurrent writer won the name. Cross-process exclusivity is the
    * filesystem's contract on BOTH regimes: HDFS rename (server-side
    * atomic refuse) and local hard-link (kernel EEXIST refuse);
    * in-JVM racers additionally serialize on the per-dir lock.
    */
  def renamePublish(fs: FileSystem, path: Path, text: String): Boolean =
    if (isObjectStore(fs)) objectStoreMode match {
      case Refuse => refuseObjectStore(fs, path, "renamePublish")
      case SingleWriter =>
        // Delta's S3 single-driver LogStore contract: the claim
        // arbitrates IN PROCESS (per-dir lock + exists-check), then one
        // whole-object PUT publishes. Exact for the one writer process
        // the mode's contract allows; a second process racing this one
        // is outside the contract and must use Coordinated — the
        // ownership stamp below turns that common mistake into a loud
        // refusal instead of a silent race re-entry.
        publishLocks.computeIfAbsent(
          fs.makeQualified(path).getParent.toString, _ => new Object).synchronized {
          ensureSingleWriterOwnership(fs, fs.makeQualified(path).getParent)
          if (fs.exists(path)) false
          else { putWhole(fs, path, text); true }
        }
      case Coordinated(coordinator) =>
        // external first-writer-wins on the claim KEY. Content stages at
        // a readable sibling BEFORE the claim (see [[ClaimCoordinator]]):
        // a winner crashing between claim and PUT is then COMPLETABLE by
        // any process instead of wedging the table. The winner's PUT is
        // whole-object atomic so readers never see a torn claim.
        //
        // Exists-PRECHECK before staging anything: a version whose
        // object already landed is a lost race, full stop — returning
        // false here (the same answer the local and SingleWriter
        // branches give) saves a staged PUT + claim round-trip per
        // retry, and it is what makes claim-entry EXPIRY safe: once the
        // object exists, no future writer re-reaches the coordinator
        // for this key, so a completed claim record can be reclaimed
        // (FileClaimCoordinator.expire) without reopening the
        // first-writer-wins window.
        if (fs.exists(path)) return false
        val key = fs.makeQualified(path).toString
        val stagedRef = claimRefSibling(path)
        putWhole(fs, stagedRef, text)
        if (coordinator.claim(key, fs.makeQualified(stagedRef).toString)) {
          putWhole(fs, path, text)
          // ref only matters while the object is missing; now it's debris
          try fs.delete(stagedRef, false): Unit
          catch { case _: java.io.IOException => () }
          true
        } else {
          try fs.delete(stagedRef, false): Unit
          catch { case _: java.io.IOException => () }
          // lost — but the winner may have crashed between its claim and
          // its PUT: complete its publication from the claim's staged ref
          // so the next version computation can move past this key
          if (!fs.exists(path)) completeClaim(fs, path, coordinator, key)
          false
        }
    }
    else retryParentTorn(fs, path)(renamePublishOnce(fs, path, text))

  /** Release a [[renamePublish]]-claimed SLOT: delete the published
    * object and, under Coordinated mode, drop the coordinator's claim
    * record so the key is claimable again. Record first, object second:
    * a crash between the two leaves the object as a visible refusal
    * (the slot reads as held) that the next release resolves — never a
    * record-without-object, which is unrecoverable for a re-claimable
    * key (no staged ref survives a completed publication). Commit-log
    * records are publish-once and must NEVER be released.
    */
  def releasePublished(fs: FileSystem, path: Path): Unit = {
    if (isObjectStore(fs)) objectStoreMode match {
      case Coordinated(coordinator) =>
        coordinator.release(fs.makeQualified(path).toString)
      case _ => ()
    }
    fs.delete(path, false): Unit
  }

  // ------------------------------------------------------------------ //
  // SingleWriter ownership stamp: the mode's "ONE writer process per    //
  // table" contract, guarded instead of merely documented.              //
  // ------------------------------------------------------------------ //

  /** Name of the per-log-dir ownership stamp (SingleWriter mode). */
  val OwnerStampName = "_graft_owner"

  /** Heartbeat TTL for the SingleWriter ownership stamp: a stamp whose
    * heartbeat is older than this is considered a DEAD owner's and is
    * reclaimable; a fresher stamp from another process refuses the
    * claim. The live owner re-heartbeats at TTL/2 (amortized: at most
    * one extra PUT per table per TTL/2 across any number of commits).
    */
  @volatile var singleWriterStampTtlMs: Long = 10L * 60 * 1000

  private lazy val processIdentity: String = {
    val pid = ProcessHandle.current().pid()
    val host =
      try java.net.InetAddress.getLocalHost.getHostName
      catch { case _: java.net.UnknownHostException => "unknown-host" }
    s"$pid@$host"
  }

  private val processNonce = java.util.UUID.randomUUID().toString

  /** Test seam: lets a spec impersonate a SECOND process (distinct
    * nonce) without forking a JVM. Production code never sets it.
    */
  private[sources] var processNonceForTest: Option[String] = None
  private def effectiveNonce: String = processNonceForTest.getOrElse(processNonce)

  // per-log-dir epoch of the last heartbeat THIS process wrote — the
  // fast path that keeps the per-commit cost at zero fs calls between
  // heartbeats
  private val ownedHeartbeats =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  /** Test seam: drop the in-memory heartbeat cache so the next claim
    * re-reads the stamp (simulates a fresh process attaching).
    */
  private[sources] def resetOwnershipForTest(): Unit = ownedHeartbeats.clear()

  /** Best-effort enforcement of SingleWriter's one-writer-per-table
    * contract, scoped to COMMIT-LOG dirs (where every data change's
    * claim lands): the first claim PUTs a stamp
    * `nonce \t pid@host \t heartbeatEpochMs`; later claims re-check it
    * from the in-memory heartbeat cache (free) or one GET per TTL/2.
    * Another process's stamp with a live heartbeat ⇒ loud refusal
    * naming the owner and the fix; a stale stamp (owner died) is taken
    * over. BEST-EFFORT by design: two processes PUTting simultaneously
    * can both believe they own the table — last-writer-wins PUT has no
    * arbitration, which is exactly why the mode is single-writer. The
    * guard catches the operational mistake (a second writer attaching
    * to a live table), not a byzantine race; true multi-writer needs
    * [[Coordinated]].
    */
  private def ensureSingleWriterOwnership(fs: FileSystem, dir: Path): Unit = {
    // only commit-log dirs carry stamps: other claim sites (the staged-
    // rewrite slot's claim file lives in the table's PARENT, shared by
    // sibling tables) would collide across tables
    if (dir.getName != LakeTable.LogDirName) return
    val key = dir.toString
    val now = System.currentTimeMillis()
    val last = Option(ownedHeartbeats.get(key)).map(_.longValue).getOrElse(-1L)
    if (last >= 0 && now - last < singleWriterStampTtlMs / 2) return
    val stamp = new Path(dir, OwnerStampName)
    val nonce = effectiveNonce
    val cur =
      try {
        if (!fs.exists(stamp)) None
        else {
          val in = fs.open(stamp)
          try Some(new String(
            org.apache.commons.io.IOUtils.toByteArray(in), StandardCharsets.UTF_8))
          finally in.close()
        }
      } catch { case _: java.io.IOException => None }
    cur.map(_.split("\t", -1)).filter(_.length >= 3).foreach { parts =>
      val (curNonce, curWho) = (parts(0), parts(1))
      val curEpoch = scala.util.Try(parts(2).toLong).getOrElse(0L)
      if (curNonce != nonce && now - curEpoch < singleWriterStampTtlMs)
        throw new IllegalStateException(
          s"SingleWriter ownership: the table log at $dir is stamped by " +
            s"writer process $curWho (heartbeat ${now - curEpoch} ms ago, " +
            s"ttl $singleWriterStampTtlMs ms). LakeIo.SingleWriter allows " +
            "ONE writer process per table — stop the other writer, switch " +
            "to LakeIo.Coordinated for multi-writer commits, or wait out " +
            "the ttl to reclaim a dead owner's stamp.")
    }
    // absent, ours, or stale: (re)stamp and remember the heartbeat
    putWhole(fs, stamp, s"$nonce\t$processIdentity\t$now")
    ownedHeartbeats.put(key, java.lang.Long.valueOf(now)): Unit
  }

  /** Staged-content sibling for a coordinated claim. Dot-prefixed (no
    * glob or version listing matches it) but NOT under [[TmpPrefix]]:
    * vacuum reclaims tmp debris agelessly, and a crashed winner's claim
    * ref must survive until recovery completes its PUT — vacuum reclaims
    * [[ClaimRefPrefix]] files only past the stage-retention horizon.
    */
  val ClaimRefPrefix = ".claimref_"

  private def claimRefSibling(path: Path): Path =
    new Path(path.getParent,
      s"$ClaimRefPrefix${java.util.UUID.randomUUID().toString.replace("-", "")}")

  /** Complete a claimed-but-missing publication from the claim's staged
    * ref — any process may run this; the PUT is idempotent (same bytes
    * the winner would have written, whole-object atomic, last writer
    * wins among recoverers).
    */
  private def completeClaim(
      fs: FileSystem, path: Path, coordinator: ClaimCoordinator, key: String): Unit =
    coordinator.claimedRef(key) match {
      case Some(ref) =>
        val refPath = new Path(ref)
        val content =
          try {
            if (!fs.exists(refPath)) None
            else {
              val in = fs.open(refPath)
              try Some(new String(
                org.apache.commons.io.IOUtils.toByteArray(in), StandardCharsets.UTF_8))
              finally in.close()
            }
          } catch { case _: java.io.FileNotFoundException => None }
        content match {
          case Some(text) => putWhole(fs, path, text)
          case None =>
            // ref gone: the winner finished (PUT landed, ref dropped) —
            // re-check — or the ref was reclaimed with the PUT never made
            if (!fs.exists(path))
              throw new IllegalStateException(
                s"coordinated claim for $path is consumed but neither the " +
                  s"object nor its staged ref ($ref) exists — the claim " +
                  "winner crashed and its staged content was reclaimed " +
                  "before recovery ran. Restore the ref content or reset " +
                  "the coordinator's entry for this key.")
        }
      case None =>
        // claim held with no recorded ref (a coordinator that refuses
        // without recording, e.g. quota/test doubles) — nothing to recover
        ()
    }

  private def renamePublishOnce(fs: FileSystem, path: Path, text: String): Boolean =
    publishLocks.computeIfAbsent(
      fs.makeQualified(path).getParent.toString, _ => new Object).synchronized {
      fs match {
        case c: ChecksumFileSystem =>
          val raw = c.getRawFileSystem
          if (raw.exists(path)) return false
          val tmp = writeTmp(raw, path, text)
          dropSidecar(c, path)
          // CROSS-PROCESS first-writer-wins: hard-link the finished tmp
          // to the claim name — link(2) refuses an existing destination
          // ATOMICALLY at the kernel, so two separate JVMs racing one
          // version claim get exactly one winner (POSIX rename clobbers,
          // which is why the pre-upgrade local branch was in-JVM-only).
          val dst = java.nio.file.Paths.get(raw.makeQualified(path).toUri.getPath)
          val src = java.nio.file.Paths.get(raw.makeQualified(tmp).toUri.getPath)
          try {
            java.nio.file.Files.createLink(dst, src)
            java.nio.file.Files.deleteIfExists(src): Unit
            true
          } catch {
            case _: java.nio.file.FileAlreadyExistsException =>
              java.nio.file.Files.deleteIfExists(src): Unit
              false
            case _: UnsupportedOperationException |
                _: java.nio.file.FileSystemException =>
              // a local fs without hard links (rare): fall back to the
              // lock + exists-check + rename pair — exact in-JVM, the
              // pre-upgrade contract
              if (raw.exists(path)) { raw.delete(tmp, false): Unit; false }
              else if (raw.rename(tmp, path)) true
              else { raw.delete(tmp, false): Unit; false }
          }
        case other =>
          if (other.exists(path)) return false
          val tmp = writeTmp(other, path, text)
          try {
            contextFor(other, path).rename(
              other.makeQualified(tmp), other.makeQualified(path))
            true
          } catch {
            case _: org.apache.hadoop.fs.FileAlreadyExistsException |
                _: java.nio.file.FileAlreadyExistsException =>
              other.delete(tmp, false): Unit
              false
            case _: UnsupportedOperationException |
                _: org.apache.hadoop.fs.UnsupportedFileSystemException =>
              val ok = other.rename(tmp, path)
              if (!ok) other.delete(tmp, false): Unit
              ok
          }
      }
    }
}
