package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** The one registry of persisted "sliver" frames: every multi-consumer
  * intermediate the engine keeps cached goes through here, so a session
  * reset is one [[clear]] call. Two tiers, one lock:
  *
  *   - ANONYMOUS ([[computeOnce]], [[persistBounded]]): operator-internal
  *     slivers with no identity beyond their plan. Every registration
  *     enters a FIFO; past [[Cap]] live entries the oldest is unpersisted
  *     (non-blocking), so repeated operator calls in one session never
  *     grow the cache without bound. Lifetime: until pushed out by
  *     [[Cap]] newer slivers, or [[clear]].
  *   - KEYED ([[memo]], [[put]]): cross-query reuse addressed by [[Key]]
  *     = (session, fixture dir, name, fingerprint of the input files). Lifetime: until the input is rewritten (a new
  *     fingerprint for the same (session, dir, name) releases the stale
  *     entry), the session stops, or [[invalidate]]/[[clear]]. Keyed
  *     entries do NOT count against [[Cap]]: a bench's pre-filled LSH
  *     signatures or ANN ground truth, and the gate-signal sliver v3
  *     shares with q_gate_thresholds, must survive the anonymous slivers
  *     a whole query registers.
  *
  * Rules both tiers share:
  *   - FAULT TOLERANCE: `persist(MEMORY_AND_DISK)` keeps lineage, so an
  *     executor loss or cache eviction RECOMPUTES the sliver instead of
  *     failing the query (unlike `localCheckpoint(true)`, whose
  *     lineage-free blocks die with their executor). Correctness never
  *     rests on the cache.
  *   - SAME PLAN, ONE ENTRY: Spark's CacheManager keys entries by
  *     canonicalized plan, not by DataFrame handle, so a replacement with
  *     the same plan SHARES its predecessor's cache entry — releasing the
  *     predecessor would uncache the replacement ([[evictSuperseded]]).
  *   - EXTERNAL CLEARS: a harness's `catalog.clearCache()` unpersists
  *     behind the registry's back. Anonymous slots that died that way
  *     stop counting against [[Cap]]; a keyed entry is RE-ARMED (the
  *     same handle persisted again) on its next lookup, instead of
  *     silently recomputing its lineage once per consumer.
  *
  * Why no unpersist-on-function-exit: CacheManager drops the entry
  * synchronously on unpersist, so every post-return consumer recomputes —
  * and a sliver at the ROOT of a long lineage (the curation keep-flags
  * feed every stage of the web flagship) multiplies that recompute
  * through each downstream evaluation. Measured: q_web_pipeline_v2 at
  * sf0.1 went 2.8 s → 27 s with an exit-time unpersist.
  */
object SliverCache {

  /** Live anonymous-sliver bound: big enough for the deepest composed
    * gate (a streaming flagship arrival registers ~3), small enough that
    * a whole bench suite of gate calls stays within one executor's
    * storage fraction. */
  val Cap = 8

  /** A keyed entry's identity. `fingerprint` names the bytes the entry
    * was computed from ([[fingerprint]]); `name` tells apart the entries
    * derived from one dir. */
  final case class Key(session: SparkSession, dir: String, name: String,
                       fingerprint: String)

  /** A keyed entry: a persisted frame, and the level it is re-armed to
    * after an external clear. */
  private final case class Entry(frame: DataFrame) {
    val level: StorageLevel = frame.storageLevel
    require(level != StorageLevel.NONE, "a keyed sliver must be a persisted frame")
    def release(): Unit = { frame.unpersist(); () }
  }

  /** One keyed slot. Its own monitor serializes the BUILD, so two
    * consumers of one key run one build while builders of different keys
    * never block each other — and the registry lock is never held across
    * a Spark job. `dead` once released: a consumer that fetched the slot
    * before its removal retries instead of caching into an orphan. */
  private final class Slot {
    private var entry: Option[Entry] = None
    private var dead = false

    def getOrBuild(build: => DataFrame): Option[DataFrame] = synchronized {
      if (dead) None
      else {
        val e = entry.getOrElse { val b = Entry(build); entry = Some(b); b }
        if (e.frame.storageLevel == StorageLevel.NONE) e.frame.persist(e.level)
        Some(e.frame)
      }
    }

    def replace(nu: DataFrame): Boolean = synchronized {
      if (!dead) {
        entry.foreach(old => evictSuperseded(old, nu))
        entry = Some(Entry(nu))
      }
      !dead
    }

    def release(): Unit = synchronized {
      dead = true
      entry.foreach(_.release())
      entry = None
    }
  }

  // both tiers are guarded by this object's monitor
  private val live = new java.util.ArrayDeque[DataFrame]
  private val keyed = scala.collection.mutable.Map.empty[Key, Slot]

  /** Release a superseded entry ONLY when its canonicalized plan differs
    * from the replacement's: a same-plan replacement shares the entry,
    * so there is nothing to release. Measured before this guard: the
    * 100× rerun probe re-ran q_curation_pipeline_v3 at 19× its recorded
    * time (2813 s vs 145 s), because every rerun uncached its own gate
    * set and signal sliver at registration. */
  private def evictSuperseded(old: Entry, nu: DataFrame): Unit =
    if (!old.frame.queryExecution.analyzed.sameResult(nu.queryExecution.analyzed))
      old.release()

  /** The slot for `k`, created if absent. Sweeps, in the same pass, the
    * slots of stopped sessions (dropped — their caches died with the
    * context) and the slots `k`'s fingerprint supersedes (released,
    * outside the registry lock). */
  private def slotFor(k: Key): Slot = {
    val (slot, stale) = synchronized {
      keyed.filterInPlace { case (key, _) => !key.session.sparkContext.isStopped }
      val stale = keyed.keys.filter(o => (o.session eq k.session) && o.dir == k.dir &&
        o.name == k.name && o.fingerprint != k.fingerprint).toSeq
      (keyed.getOrElseUpdate(k, new Slot), stale.flatMap(keyed.remove))
    }
    stale.foreach(_.release())
    slot
  }

  /** Identity of the bytes under `dir/table.parquet`: every file as
    * (name, length, mtime), digested. A driver-side metadata listing —
    * no data read, negligible next to the computations it guards. */
  def fingerprint(s: SparkSession, dir: String, table: String): String = {
    import org.apache.hadoop.fs.{FileStatus, Path}
    val root = new Path(s"$dir/$table.parquet")
    val fs = root.getFileSystem(s.sessionState.newHadoopConf())
    def walk(st: FileStatus): Seq[FileStatus] =
      if (st.isDirectory)
        fs.listStatus(st.getPath).sortBy(_.getPath.getName).toSeq.flatMap(walk)
      else Seq(st)
    val parts = walk(fs.getFileStatus(root))
      .map(st => s"${st.getPath.getName}:${st.getLen}:${st.getModificationTime}")
    java.security.MessageDigest.getInstance("MD5")
      .digest(parts.mkString("\n").getBytes("UTF-8")).map("%02x".format(_)).mkString
  }

  /** The keyed frame for `k`, built at most once: `build` must return a
    * PERSISTED frame (it is re-armed at that level after an external
    * clear, and unpersisted on release). */
  @annotation.tailrec
  def memo(k: Key)(build: => DataFrame): DataFrame =
    slotFor(k).getOrBuild(build) match {
      case Some(df) => df
      case None => memo(k)(build)
    }

  /** Install an externally-built persisted frame under `k`, replacing
    * the current one (released unless it has the same plan). */
  @annotation.tailrec
  def put(k: Key, df: DataFrame): DataFrame =
    if (slotFor(k).replace(df)) df else put(k, df)

  /** Release every keyed entry named `name` — for `dir` only, or every
    * dir when `dir` is None. */
  def invalidate(name: String, dir: Option[String] = None): Unit =
    synchronized {
      keyed.keys.filter(k => k.name == name && dir.forall(_ == k.dir)).toSeq
        .flatMap(keyed.remove)
    }.foreach(_.release())

  /** Drop anonymous entries something OUTSIDE this registry already
    * unpersisted: their slots are dead weight, and the FIFO's occupancy
    * must reflect what is actually cached, or [[Cap]] stops meaning
    * anything. Caller holds the monitor. */
  private def pruneDead(): Unit = {
    val it = live.iterator()
    while (it.hasNext)
      if (it.next().storageLevel == StorageLevel.NONE) it.remove()
  }

  private def register(p: DataFrame): DataFrame = {
    synchronized {
      pruneDead()
      // same-plan re-registration MOVES the entry to the back (freshest
      // position): two slots for one CacheManager entry would let the
      // older slot's eviction uncache the newer registration early
      val plan = p.queryExecution.analyzed
      val it = live.iterator()
      while (it.hasNext)
        if (it.next().queryExecution.analyzed.sameResult(plan)) it.remove()
      live.addLast(p)
      while (live.size > Cap)
        live.removeFirst().unpersist(blocking = false)
    }
    p
  }

  /** Live anonymous-slot count after pruning externally-uncached
    * entries — accounting introspection for specs and harnesses. */
  def liveCount: Int = synchronized { pruneDead(); live.size }

  /** Forget everything, both tiers: unpersist whatever is still cached
    * (a no-op for entries a session-wide clear already dropped). For
    * harness isolation points (a bench's per-query reset) — NOT for
    * operator code, which relies on slivers staying hot across calls. */
  def clear(): Unit =
    synchronized {
      val it = live.iterator()
      while (it.hasNext) it.next().unpersist(blocking = false)
      live.clear()
      val slots = keyed.values.toList
      keyed.clear()
      slots
    }.foreach(_.release())

  /** Persist + register, WITHOUT materializing — for slivers whose
    * first consumer is an immediate driver-side action (the Misra–Gries
    * `head()`, the cap-derivation `head()`), where an extra count job
    * would only add a pass. */
  def persistBounded(df: DataFrame): DataFrame =
    register(df.persist(StorageLevel.MEMORY_AND_DISK))

  /** Persist + eager count + register — for slivers whose consumers are
    * all lazy downstream branches: the count materializes the cache so
    * every branch shares one computation of the chain. */
  def computeOnce(df: DataFrame): DataFrame = {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    val _ = p.count()
    register(p)
  }
}
