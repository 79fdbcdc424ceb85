package graft.catalog

import java.nio.file.{Files, Path, StandardCopyOption, StandardOpenOption}

/** The single atomic primitive the commit log needs: publish `content`
  * at `target` iff the slot is free.
  *
  * Contract (the object-store conditional-write shape, e.g. S3
  * `If-None-Match: *` / GCS `x-goods-if-generation-match: 0` semantics):
  *
  *   - ATOMIC CLAIM: of any number of concurrent callers for one
  *     `target`, exactly one returns normally; every other throws
  *     [[java.nio.file.FileAlreadyExistsException]] (including when the
  *     target already existed before the call).
  *   - FULL-CONTENT VISIBILITY: a reader either sees the complete
  *     `content` at `target` or no file at all — never a partial or
  *     empty intermediate. (The commit log's readers additionally treat
  *     a zero-byte version file as in-flight/dead, as defense against
  *     legacy implementations that could not honor this clause.)
  *   - DURABILITY ON RETURN: once `putIfAbsent` returns, the content is
  *     the committed state of the slot.
  *
  * [[TxLog]] drives ALL commit publication through this seam, so porting
  * the log to an object store is one implementation of one method —
  * everything above it (optimistic conflicts, snapshot isolation,
  * checkpoints, vacuum) is already expressed in terms of immutable
  * listed objects. The reference has no analog (its WAL is a single
  * local file, `LiteDB/Engine/Services/WalIndexService.cs:143-291`);
  * this seam is what makes the same contract lake-native.
  */
trait CommitPrimitive {

  /** Atomically land `content` at `target` iff absent.
    * @throws java.nio.file.FileAlreadyExistsException when the slot is
    *         taken (caller lost the race or the version already exists)
    */
  def putIfAbsent(target: Path, content: Array[Byte]): Unit

  // ---- read side -----------------------------------------------------------
  // The log's METADATA reads go through the same seam as its writes:
  // version-file and checkpoint reads (a GET), log-directory listings
  // (a LIST), and size probes (a HEAD). On a local filesystem these
  // default to plain java.nio calls; on an object store each one is a
  // wide-area round trip (SCALE.md "Round 13: the read-charged
  // wide-area model" measures the catch-up walk's per-trigger read
  // floor), and HttpCommitPrimitive serves them as real HTTP
  // verbs. Defaults keep every existing putIfAbsent-only implementation
  // (specs, user primitives) source-compatible.

  /** Committed bytes at `target`; None when no object exists (a GET).
    * A zero-byte committed object returns Some(empty) — readers treat
    * those as in-flight slots, which needs the exists/empty distinction.
    */
  def readAll(target: Path): Option[Array[Byte]] =
    try Some(Files.readAllBytes(target))
    catch { case _: java.io.IOException => None }

  /** Names of the entries directly under `dir` (a LIST over the
    * prefix); empty when the prefix has no objects.
    */
  def listNames(dir: Path): Seq[String] = {
    import scala.jdk.CollectionConverters._
    if (!Files.isDirectory(dir)) return Nil
    val s = Files.list(dir)
    try s.iterator().asScala.map(_.getFileName.toString).toVector
    finally s.close()
  }

  /** Object size in bytes; None when missing (a HEAD). */
  def sizeOf(target: Path): Option[Long] =
    try { if (Files.exists(target)) Some(Files.size(target)) else None }
    catch { case _: java.io.IOException => None }
}

object CommitPrimitive {

  /** Default primitive for POSIX / HDFS-style filesystems. */
  val posix: CommitPrimitive = new PosixCommitPrimitive()

  /** How long a fallback-path claim lock may sit without its version
    * file landing before another committer treats the claimant as
    * crashed and takes the slot over.
    */
  val StaleLockMs: Long = 10000L
}

/** POSIX implementation. Primary path: hard-link CAS — `link(2)` is
  * atomic and fails with `EEXIST` when the target exists, so exactly
  * one publisher of a version wins, and the linked file carries the
  * full content (no partial-visibility window).
  *
  * Fallback for filesystems without hard links: a SIDECAR LOCK claim.
  * `ATOMIC_MOVE` alone is not a CAS (POSIX `rename(2)` silently
  * replaces an existing target, and the JDK's no-REPLACE_EXISTING
  * existence check is not atomic), and the previous design — claim the
  * version name itself with an O_EXCL empty create, then move content
  * over it — exposed an EMPTY version file in the claim→move window
  * that readers could parse as a zero-action commit and cache. Instead:
  *
  *   1. claim `target.lock` with O_EXCL (atomic; loser throws) — the
  *      lock carries a random owner token
  *   2. re-read the lock and verify the token (fencing: a taker that
  *      declared us stale has replaced it)
  *   3. `ATOMIC_MOVE` the fully-written content onto `target` — readers
  *      never observe a partial or empty version file
  *   4. delete the lock
  *
  * A claimant that crashes between 1 and 3 leaves a lock with no
  * version file; later committers take the slot over once the lock is
  * older than [[CommitPrimitive.StaleLockMs]] (re-arbitrated by the
  * same O_EXCL create, so racing takers resolve to one winner). The
  * token fence closes the takeover race down to a claimant stalling
  * longer than the staleness window BETWEEN the fence re-read and the
  * move — two adjacent syscalls — the standard residual of lease-based
  * fencing without a server-side CAS; on stores where this matters, use
  * a native conditional-put [[CommitPrimitive]] instead.
  *
  * @param forceNoLinks test hook: skip `createLink` to exercise the
  *                     fallback path on a filesystem that has links
  */
final class PosixCommitPrimitive(forceNoLinks: Boolean = false)
    extends CommitPrimitive {

  override def putIfAbsent(target: Path, content: Array[Byte]): Unit = {
    val tmp = Files.createTempFile(target.getParent, ".commit", ".tmp")
    try {
      Files.write(tmp, content)
      if (forceNoLinks) fallback(tmp, target)
      else {
        try Files.createLink(target, tmp)
        catch { case _: UnsupportedOperationException => fallback(tmp, target) }
      }
    } finally Files.deleteIfExists(tmp)
  }

  private def fallback(tmp: Path, target: Path): Unit = {
    if (Files.exists(target))
      throw new java.nio.file.FileAlreadyExistsException(target.toString)
    val lock = target.resolveSibling(target.getFileName.toString + ".lock")
    val token = java.util.UUID.randomUUID().toString
    claim(lock, target, token)
    var ownLock = true
    try {
      // the existence check must repeat INSIDE the lock: a competitor
      // that moved its content and released the lock between our
      // pre-check and our claim has already committed this slot, and
      // REPLACE_EXISTING would silently overwrite it
      if (Files.exists(target))
        throw new java.nio.file.FileAlreadyExistsException(target.toString)
      // fence: a takeover replaced the lock while we stalled → abort as
      // a lost race rather than overwrite the taker's committed content.
      // The replaced lock is the TAKER's now — leave it alone
      val owner = try new String(Files.readAllBytes(lock), "UTF-8")
        catch { case _: java.io.IOException => "" }
      if (owner != token) {
        ownLock = false
        throw new java.nio.file.FileAlreadyExistsException(target.toString)
      }
      Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
    } finally if (ownLock) Files.deleteIfExists(lock)
  }

  private def claim(lock: Path, target: Path, token: String): Unit = {
    try {
      Files.write(lock, token.getBytes("UTF-8"),
        StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE)
      ()
    } catch {
      case e: java.nio.file.FileAlreadyExistsException =>
        // existing lock: a live competitor (→ lose the race) or a
        // crashed claimant (no version file, lock past the staleness
        // window → take over; CREATE_NEW re-arbitrates racing takers)
        val stale = try {
          !Files.exists(target) &&
            System.currentTimeMillis() -
              Files.getLastModifiedTime(lock).toMillis >
              CommitPrimitive.StaleLockMs
        } catch { case _: java.io.IOException => false }
        if (!stale) throw e
        Files.deleteIfExists(lock)
        claim(lock, target, token)
    }
  }
}
