package graft.engine

import org.apache.hadoop.fs.{FileSystem, Path}

/** Mechanical cross-process writer guard for the persisted stores
  * (r14) — the lease file that turns the "single writer per store
  * across processes" CONTRACT ([[Compactor.swapLock]]'s scaladoc)
  * into a loud refusal instead of silent corruption when a scheduler
  * double-launches a rebuild from two drivers.
  *
  * Protocol:
  *  - the lease lives at `<store>__lease` — a SIBLING file (the store
  *    root itself gets renamed during swaps, so nothing inside it can
  *    anchor a lock);
  *  - acquisition is `FileSystem.create(overwrite = false)` — atomic
  *    create-if-absent on HDFS and local FS alike. The content names
  *    the holder (`pid@host`) for error messages; STALENESS is judged
  *    from the FS-assigned modification time, never from content, so
  *    a crash between create and write still yields a well-defined
  *    lease;
  *  - a held lease REFUSES the new writer (IllegalStateException
  *    naming the holder and its age) — the double-launch case;
  *  - takeover happens only when the lease is STALE: older than
  *    `ttlMs` (default 30 min — size it above the longest rebuild),
  *    or held by a same-host pid that no longer exists (the crashed
  *    writer, detected immediately via ProcessHandle). Takeover is
  *    delete + re-create; losing the re-create race refuses rather
  *    than retrying — two simultaneous takeovers cannot both win;
  *  - release deletes the file (in `finally` — failures release too);
  *  - reentrant per (thread, store): a rebuild that publishes through
  *    [[Compactor.swapInto]] acquires once, nested acquisitions are
  *    counted. A SECOND thread in the same JVM refuses exactly like a
  *    second process would.
  *
  * What this does NOT cover (documented contract, unchanged): READERS
  * never take leases — crash-recovery renames ([[Compactor.recover]])
  * are reader-side and serialize only in-process via `swapLock`; a
  * reader in another process during a writer's swap window remains
  * out of contract. The lease closes the WRITER-vs-WRITER hole — the
  * one a real scheduler actually hits.
  */
object StoreLease {

  /** Default staleness horizon — a lease older than this is presumed
    * crashed and may be taken over. Size above the longest rebuild.
    */
  val DefaultTtlMs: Long = 30L * 60 * 1000

  private lazy val holderId: String = {
    val host =
      try java.net.InetAddress.getLocalHost.getHostName
      catch { case scala.util.control.NonFatal(_) => "unknown-host" }
    s"${ProcessHandle.current().pid()}@$host"
  }

  /** In-process reentrancy ledger: store root → (owner thread, depth).
    * Guarded by its own monitor; never held across FS calls.
    */
  private val held =
    scala.collection.mutable.Map.empty[String, (Long, Int)]

  private[graft] def leasePath(root: String): Path =
    new Path(root.stripSuffix("/") + "__lease")

  private def describe(fs: FileSystem, p: Path): String =
    try {
      val age = System.currentTimeMillis() -
        fs.getFileStatus(p).getModificationTime
      val holder =
        try {
          val in = fs.open(p)
          try new String(in.readAllBytes(),
            java.nio.charset.StandardCharsets.UTF_8).trim
          finally in.close()
        } catch { case scala.util.control.NonFatal(_) => "<unreadable>" }
      s"held by $holder for ${age / 1000}s"
    } catch { case scala.util.control.NonFatal(_) => "<gone>" }

  private def tryCreate(fs: FileSystem, p: Path): Boolean =
    try {
      val out = fs.create(p, false)
      try out.write(holderId.getBytes(
        java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
      true
    } catch { case _: java.io.IOException => false }

  /** Is the current lease stale — TTL-expired, or held by a same-host
    * pid that no longer runs? Missing content/status reads as NOT
    * stale (refuse; the file will age into the TTL if truly dead).
    */
  private def isStale(fs: FileSystem, p: Path, ttlMs: Long): Boolean =
    try {
      val st = fs.getFileStatus(p)
      if (System.currentTimeMillis() - st.getModificationTime > ttlMs)
        true
      else {
        val in = fs.open(p)
        val holder =
          try new String(in.readAllBytes(),
            java.nio.charset.StandardCharsets.UTF_8).trim
          finally in.close()
        holder.split("@") match {
          case Array(pid, host) if host == holderId.split("@")(1) =>
            pid.toLongOption.exists(id =>
              ProcessHandle.of(id).isEmpty) // our host, pid gone
          case _ => false
        }
      }
    } catch { case scala.util.control.NonFatal(_) => false }

  private def acquireFile(fs: FileSystem, root: String,
                          ttlMs: Long): Unit = {
    val p = leasePath(root)
    if (tryCreate(fs, p)) return
    if (!fs.exists(p)) {
      // released between our attempts: one retry
      if (tryCreate(fs, p)) return
      throw new IllegalStateException(
        s"store $root: lost the lease race (${describe(fs, p)})")
    }
    if (isStale(fs, p, ttlMs)) {
      fs.delete(p, false)
      if (tryCreate(fs, p)) return
      throw new IllegalStateException(
        s"store $root: lost the stale-lease takeover race " +
          s"(${describe(fs, p)})")
    }
    throw new IllegalStateException(
      s"another writer holds store $root (${describe(fs, p)}); " +
        s"refusing — takeover after ${ttlMs / 1000}s staleness, or " +
        "immediately if the holder is a dead same-host process")
  }

  /** Run `body` holding the store's writer lease (reentrant within
    * the owning thread). Refuses loudly — never corrupts — when a
    * live writer elsewhere holds it.
    */
  def withLease[A](fs: FileSystem, root: String,
                   ttlMs: Long = DefaultTtlMs)(body: => A): A = {
    val tid = Thread.currentThread().getId
    val first = held.synchronized {
      held.get(root) match {
        case Some((t, d)) if t == tid =>
          held.update(root, (t, d + 1)); false
        case Some((t, _)) =>
          throw new IllegalStateException(
            s"another writer (thread $t, this process) holds store " +
              s"$root; refusing")
        case None => held.update(root, (tid, 1)); true
      }
    }
    if (first) {
      try acquireFile(fs, root, ttlMs)
      catch {
        case e: Throwable =>
          held.synchronized { held.remove(root) }; throw e
      }
    }
    try body
    finally {
      val releaseFile = held.synchronized {
        held(root) match {
          case (_, 1) => held.remove(root); true
          case (t, d) => held.update(root, (t, d - 1)); false
        }
      }
      if (releaseFile) fs.delete(leasePath(root), false)
    }
  }
}
