package graft.sources

import java.nio.charset.StandardCharsets

/** Conditional-put (compare-and-swap) pointer publish for stores with NO
  * atomic rename.
  *
  * [[AtomicPublish]] covers filesystems where a single atomic rename
  * exists (POSIX `rename(2)` locally, the NameNode's rename on HDFS).
  * Object stores have neither — a blind PUT of the generation pointer is
  * last-writer-wins, so two concurrent publishers (say a compaction and
  * a CDC fold, each read pointer → write generation → publish pointer)
  * can interleave as read(g0) / read(g0) / put(gA) / put(gB): gB
  * silently erases gA's generation — a LOST UPDATE whose data files
  * linger unreferenced until vacuum.
  *
  * The industry protocol is the conditional write every major store now
  * exposes (HTTP `If-Match: <etag>` / `If-None-Match: *` preconditions;
  * S3/GCS/Azure all support it, and Delta/Iceberg commit services are
  * built on exactly this): PUT the new pointer ONLY IF the object's
  * version is still the one the writer read. A losing writer gets a
  * precondition failure, re-reads, re-bases, retries — optimistic
  * concurrency, no lock service.
  *
  * [[ObjectStore]] is the minimal seam (get → bytes+etag, putIf →
  * conditional PUT); wiring a real S3/GCS client is one small adapter
  * this container can't exercise (zero egress), so the contract is
  * proved on [[MemoryStore]] instead: [[CasPointerSpec]] races
  * concurrent publishers and shows every update survives through the
  * CAS loop while blind puts demonstrably lose one.
  */
object ConditionalPut {

  type Etag = String

  /** Tri-state outcome of a conditional PUT against a store whose
    * network can lose the RESPONSE after the server applied the write.
    * `Rejected` is a DEFINITE precondition failure; `Unknown` means the
    * client cannot tell whether the write landed (response lost) — the
    * protocol layer must resolve it by re-reading, exactly the
    * commit-state-unknown discipline table formats built on object-store
    * commits use. */
  sealed trait PutOutcome
  final case class Committed(etag: Etag) extends PutOutcome
  case object Rejected extends PutOutcome
  case object Unknown extends PutOutcome

  /** A conditional put's outcome could not be determined AND the caller
    * supplied no idempotency predicate to resolve it. Retrying blindly
    * could apply the update twice; surfacing loudly is the only safe
    * move (same stance as Iceberg's CommitStateUnknownException). */
  final class AmbiguousCommitException(msg: String)
      extends graft.format.OliveFormatException(msg)

  /** The two object-store primitives the protocol needs. Adapters for a
    * real store map `get` to GET (content + ETag header) and `putIf` to
    * PUT with `If-Match`/`If-None-Match: *` preconditions. */
  trait ObjectStore {
    /** Current content and version token, or None if absent. */
    def get(key: String): Option[(Array[Byte], Etag)]

    /** Conditional PUT. `expect = None` → create only if ABSENT
      * (`If-None-Match: *`); `expect = Some(etag)` → replace only that
      * exact version (`If-Match`). Returns the new etag, or None when
      * the precondition failed (someone else won the race). */
    def putIf(key: String, expect: Option[Etag], bytes: Array[Byte]): Option[Etag]

    /** Conditional PUT that can also report an AMBIGUOUS outcome.
      * Stores with an in-process or lock-serialized path (memory,
      * Hadoop FS) never lose responses, so the default maps the binary
      * `putIf`; network clients ([[NativeCas.S3CasStore]],
      * [[NativeCas.GcsCasStore]]) override with real recovery. */
    def putIfChecked(key: String, expect: Option[Etag],
        bytes: Array[Byte]): PutOutcome =
      putIf(key, expect, bytes) match {
        case Some(e) => Committed(e)
        case None => Rejected
      }
  }

  /** Read-modify-write through the CAS loop: apply `f` to the current
    * content until a conditional put lands. `f` may be invoked several
    * times (once per race lost) — it must be pure. Returns the content
    * that finally landed. `maxRetries` bounds pathological contention:
    * exceeding it throws rather than spinning forever.
    *
    * `landed` resolves AMBIGUOUS outcomes (response lost after the
    * server may have applied the write — only native network stores
    * produce these): given the content observed on re-read, return true
    * iff this update's effect is already reflected in it. For
    * append-style RMW that is a containment check on the caller's
    * unique contribution; retrying `f` without it could apply the
    * update TWICE, so with no predicate an unresolved ambiguity throws
    * [[AmbiguousCommitException]] instead of guessing. */
  def update(store: ObjectStore, key: String, maxRetries: Int = 64,
      landed: String => Boolean = null)(
      f: Option[String] => String): String = {
    var attempt = 0
    while (attempt < maxRetries) {
      val cur = store.get(key)
      val expect = cur.map(_._2)
      val content = f(cur.map(c => new String(c._1, StandardCharsets.UTF_8)))
      store.putIfChecked(key, expect, content.getBytes(StandardCharsets.UTF_8)) match {
        case Committed(_) => return content
        case Rejected => // definite loss: re-read and retry
        case Unknown =>
          // the write may or may not have landed; resolve by re-reading
          val now = store.get(key).map(c => new String(c._1, StandardCharsets.UTF_8))
          if (now.contains(content)) return content // ours is the live version
          else if (landed != null && now.exists(landed)) return now.get
          else if (landed == null)
            throw new AmbiguousCommitException(
              s"conditional put on $key: response lost and the current " +
                "content neither matches the attempt nor can be resolved " +
                "(no idempotency predicate) — commit state unknown")
        // landed predicate says our effect is absent → safe to retry
      }
      attempt += 1
      // contention backoff: a tight spin against a lock-serialized or
      // rate-limited store can burn the whole retry budget while one
      // holder works (observed: 10k retries in <1s on the fs-lock
      // bridge). Exponential + jitter after a few free retries —
      // cheap-store races still resolve instantly, hot ones breathe.
      if (attempt > 4) {
        val cap = math.min(1L << math.min(attempt / 4, 6), 50L)
        Thread.sleep(java.util.concurrent.ThreadLocalRandom.current()
          .nextLong(1L, cap + 1))
      }
    }
    throw new graft.format.OliveFormatException(
      s"conditional put on $key lost $maxRetries races; giving up")
  }

  /** The generation-pointer swap, object-store edition: advance the
    * pointer from `expectGen` to `newGen` ONLY if nobody moved it in
    * between. False = the precondition failed (pointer changed or the
    * read raced a create) — the caller must re-read the table state and
    * REBASE its generation (its record references the old
    * files), not just retry the put; that is a planning decision, so no
    * loop lives here. */
  def swapPointer(store: ObjectStore, key: String,
      expectGen: Option[String], newGen: String): Boolean = {
    val expect: Option[Option[Etag]] = expectGen match {
      case None => // table must still be un-pointed
        store.get(key) match {
          case None => Some(None)
          case Some(_) => None
        }
      case Some(g) =>
        store.get(key) match {
          case Some((bytes, etag))
              if new String(bytes, StandardCharsets.UTF_8).trim == g =>
            Some(Some(etag))
          case _ => None
        }
    }
    expect.exists(e =>
      store.putIfChecked(key, e, newGen.getBytes(StandardCharsets.UTF_8)) match {
        case Committed(_) => true
        case Rejected => false
        case Unknown =>
          // resolve by re-read: pointer names our generation → landed.
          // Anything else reads as failure, which is SAFE under the
          // publish loop's forward-only convergence (Generations): if
          // our swap actually landed and a successor already advanced
          // past it, the caller's next iteration observes an index
          // >= its own and converges without re-publishing.
          store.get(key).exists(c =>
            new String(c._1, StandardCharsets.UTF_8).trim == newGen)
      })
  }

  /** Hadoop-`FileSystem`-backed [[ObjectStore]] — the documented
    * FALLBACK, not the production path. Deployments on stores with
    * native conditional writes should use [[NativeCas.S3CasStore]] /
    * [[NativeCas.GcsCasStore]] (true `If-Match` / generation-match
    * preconditions, ambiguity-recovering); this bridge exists for
    * filesystems Hadoop can mount that lack them, without a vendored
    * store SDK (zero egress here).
    *
    * Semantics by store class:
    *  - POSIX local / HDFS: REAL mutual exclusion. `putIf` serializes
    *    writers through a create-exclusive `.cas-lock` sibling (atomic
    *    create on both), verifies the precondition under the lock, and
    *    publishes with the same atomic tmp+rename readers already
    *    tolerate. A crashed holder's lock goes stale by mtime and is
    *    broken after `lockTimeoutMs`.
    *  - True object stores (S3/GCS/Azure): this bridge is BEST-EFFORT
    *    (their create/rename are not atomic) — production deployments
    *    should drop in a thin adapter mapping `putIf` straight to the
    *    store's native conditional write (`If-Match`/`If-None-Match: *`,
    *    which S3, GCS and Azure all expose); the protocol above this
    *    seam is already exactly that shape.
    *
    * Etags are content digests (MD5 hex): version identity follows the
    * bytes, so a re-read after a lost race compares correctly even if
    * the store rewrites timestamps. A busy lock surfaces as a FAILED
    * precondition (`None`) — spurious CAS failure is legal; callers
    * re-read and retry, same as a genuine lost race. */
  final class HadoopFsStore(conf: org.apache.hadoop.conf.Configuration,
      lockTimeoutMs: Long = 30000L) extends ObjectStore {
    import org.apache.hadoop.fs.Path

    private def etagOf(b: Array[Byte]): Etag = {
      val d = java.security.MessageDigest.getInstance("MD5").digest(b)
      d.map("%02x".format(_)).mkString
    }

    def get(key: String): Option[(Array[Byte], Etag)] = {
      val path = new Path(key)
      val fs = path.getFileSystem(conf)
      try {
        if (!fs.exists(path)) None
        else {
          val in = fs.open(path)
          val b = try in.readAllBytes() finally in.close()
          Some((b, etagOf(b)))
        }
      } catch { case _: java.io.FileNotFoundException => None }
    }

    def putIf(key: String, expect: Option[Etag], bytes: Array[Byte]): Option[Etag] = {
      val path = new Path(key)
      val fs = path.getFileSystem(conf)
      val lock = new Path(path.getParent, s".${path.getName}.cas-lock")
      // break a crashed holder's stale lock (mtime-aged, same staleness
      // contract as the generation sweep); both breakers racing is fine —
      // the create-exclusive below still admits exactly one
      try {
        val st = fs.getFileStatus(lock)
        if (System.currentTimeMillis() - st.getModificationTime > lockTimeoutMs)
          fs.delete(lock, false)
      } catch { case _: java.io.IOException => }
      val out =
        try AtomicPublish.createStream(conf, lock, overwrite = false)
        catch {
          case _: org.apache.hadoop.fs.FileAlreadyExistsException =>
            return None // busy = spurious precondition failure; caller retries
        }
      try {
        try out.write('1'.toByte) finally out.close()
        val ok = expect match {
          case None => get(key).isEmpty
          case Some(e) => get(key).exists(_._2 == e)
        }
        if (!ok) None
        else {
          // atomic publish under the lock: tmp + rename, so readers see
          // old bytes or new bytes, never torn content
          val tmp = new Path(path.getParent, s".${path.getName}.cas-tmp")
          val w = AtomicPublish.createStream(conf, tmp, overwrite = true)
          try w.write(bytes) finally w.close()
          AtomicPublish.renameOverwrite(conf, tmp, path)
          Some(etagOf(bytes))
        }
      } finally {
        try fs.delete(lock, false) catch { case _: java.io.IOException => }
      }
    }
  }

  /** In-memory [[ObjectStore]] with real conditional-put semantics
    * (atomic per key, monotonically fresh etags) — the test double the
    * protocol spec races against. */
  final class MemoryStore extends ObjectStore {
    private val lock = new Object
    private var objects = Map.empty[String, (Array[Byte], Etag)]
    private var nextTag = 0L

    def get(key: String): Option[(Array[Byte], Etag)] = lock.synchronized {
      objects.get(key).map { case (b, e) => (b.clone(), e) }
    }

    def putIf(key: String, expect: Option[Etag], bytes: Array[Byte]): Option[Etag] =
      lock.synchronized {
        val current = objects.get(key).map(_._2)
        val ok = expect match {
          case None => current.isEmpty // If-None-Match: *
          case Some(e) => current.contains(e) // If-Match: e
        }
        if (!ok) None
        else {
          nextTag += 1
          val tag = s"etag-$nextTag"
          objects = objects.updated(key, (bytes.clone(), tag))
          Some(tag)
        }
      }

    /** A deliberately UNconditional PUT — what a rename-less store does
      * without preconditions; exists so the spec can demonstrate the
      * lost update the protocol prevents. */
    def putBlind(key: String, bytes: Array[Byte]): Unit = lock.synchronized {
      nextTag += 1
      objects = objects.updated(key, (bytes.clone(), s"etag-$nextTag"))
    }
  }
}
