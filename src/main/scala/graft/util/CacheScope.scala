package graft.util

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

/** Scoped, REFCOUNTED lifetime for operator-internal caches: the
  * `persist`s of multi-referenced intermediates and the [[checkpoint]]s
  * of loop-stable relations and lineage cuts.
  *
  * Several operators persist an intermediate (LSH signatures, range-
  * partitioned rank input, shingle tables) because the plan forks
  * above it — the persist is load-bearing for either cost (self-join
  * branches would recompute the dominant stage) or correctness
  * (repartitionByRange RESAMPLES its boundaries per branch when
  * unpinned, see Ranking). Those caches must outlive the operator
  * call (the returned DataFrame is lazy) but NOT the query: a
  * long-lived session running the whole registry (Verify runs every
  * query in one SparkSession) would otherwise accumulate every
  * intermediate cache block for the life of the process.
  *
  * Refcounting: concurrent queries may cache LOGICALLY IDENTICAL
  * intermediates — q_ljung_box, q_cooks_distance and q_breusch_pagan
  * all persist the same daily-revenue series. Spark's CacheManager
  * plan-matches them onto ONE cache entry (sameResult ignores alias
  * names), so a naive per-thread unpersist drops the shared entry while
  * a sibling query is mid-flight (measured: a concurrent Verify dump
  * returned an EMPTY q_cooks_distance whenever its scope raced
  * q_breusch_pagan's). Entries are therefore keyed by the session + the
  * analyzed plan's canonicalized form — EXACTLY CacheManager's match
  * granularity — and refcounted across threads: a scope close
  * decrements, and only the LAST scope out releases. A persist and a
  * layout of one plan are separate entries; a cut is never shared
  * ([[checkpoint]]).
  *
  * Already-persisted EXTERNAL inputs (e.g. a warmed service-mode
  * table passed straight into an operator) still pass through
  * untouched — re-persisting them only emits "already cached" WARNs,
  * and registering them would wrongly unpersist the long-lived warm
  * cache when a scope closes.
  */
object CacheScope {

  private sealed trait Key
  /** A persist or a hashed layout, shared by plan: the session and the
    * canonicalized analyzed plan — CacheManager's match granularity. */
  private final case class Planned(session: Int, plan: LogicalPlan, layout: Boolean) extends Key
  /** A cut, keyed by its own RDD and never shared. */
  private final case class Cut(rdd: RDD[_]) extends Key

  private final class Entry(val owner: DataFrame, val release: () => Unit) {
    var refs: Int = 1
    /** one representative DataFrame per output-name vector, so
      * same-named callers share an object and differently-aliased
      * callers are never handed columns they cannot resolve */
    val byNames: mutable.Map[Seq[String], DataFrame] =
      mutable.Map(owner.schema.fieldNames.toSeq -> owner)
  }

  private val entries = new java.util.HashMap[Key, Entry]()

  private val reg = new ThreadLocal[ArrayBuffer[Key]] {
    override def initialValue(): ArrayBuffer[Key] = ArrayBuffer.empty
  }

  /** Nesting depth of withScope on this thread. A cache taken outside
    * any scope must NOT register: only withScope drains the record, so
    * an entry made here would pin the cache for the session's life. */
  private val depth = new ThreadLocal[Int] { override def initialValue(): Int = 0 }

  private def keyOf(df: DataFrame, layout: Boolean): Key = Planned(
    System.identityHashCode(df.sparkSession), df.queryExecution.analyzed.canonicalized, layout)

  /** The RDD of a checkpoint's result, or None when `df` is not one. */
  private def rddOf(df: DataFrame): Option[RDD[_]] =
    Some(df.queryExecution.logical).collect { case r: LogicalRDD => r.rdd }

  /** Adds an entry to the map and to this thread's scope; call under
    * the map's lock. */
  private def register(key: Key, owner: DataFrame)(release: => Unit): DataFrame = {
    entries.put(key, new Entry(owner, () => release))
    reg.get() += key
    owner
  }

  /** Persist `df` (or adopt the live cache of a plan-equal DataFrame
    * another scope persisted) and register it with the current
    * thread's scope. Outside any scope nothing is registered and the
    * lifetime is the caller's to manage (df.unpersist()). */
  def persist(df: DataFrame,
              level: StorageLevel = StorageLevel.MEMORY_AND_DISK): DataFrame = {
    val key = keyOf(df, layout = false)
    val scoped = depth.get() > 0
    entries.synchronized {
      // The entry map is consulted BEFORE `df.storageLevel`: Spark's
      // cache lookup is plan-keyed, not object-keyed, so while a scoped
      // entry is live a fresh plan-equal DataFrame also reports a
      // non-NONE storageLevel. Checking that first would bounce every
      // legitimate adoption (the CacheScopeSpec refcount race), and
      // would hand a scopeless caller a cache that vanishes when the
      // scope closes. A scopeless caller instead takes a reference it
      // never returns: the session lifetime a scopeless persist means.
      // A caller-managed cache persisted before any scope entry exists
      // passes through untouched.
      Option(entries.get(key)) match {
        case Some(e) =>
          e.refs += 1
          if (scoped) reg.get() += key
          e.byNames.getOrElseUpdate(df.schema.fieldNames.toSeq, df)
        case None if df.storageLevel != StorageLevel.NONE => df
        case None =>
          df.persist(level)
          if (scoped) register(key, df)(df.unpersist(false)) else df
      }
    }
  }

  /** The width of a hashed layout; the rule is stated at [[checkpoint]]. */
  private def width(s: SparkSession): Int =
    math.min(s.sparkContext.defaultParallelism, s.sessionState.conf.numShufflePartitions)

  /** The one primitive for a loop-stable relation (a standing layout
    * every round joins against) and for a loop's lineage cut: a LAZY
    * local checkpoint of `df`, first hashed on `hashOn` when given.
    *
    * Why a checkpoint and not [[persist]]: the result is a `LogicalRDD`
    * that keeps the plan's `outputPartitioning`, so each round's join
    * on the hash key reuses the layout instead of re-exchanging it. A
    * persisted layout compiles to its own AdaptiveSparkPlan and the
    * consumer re-shuffles it. Measured on the PageRank setup shape
    * (Spark 4.1.2, bench confs, `local[4]`,
    * `autoBroadcastJoinThreshold=-1`): a persisted layout has its edge
    * side re-exchanged once per round, 2 exchanges at 2 rounds and 6
    * at 6; the checkpointed layout stays at 2 (CacheScopeSpec). A cut
    * also keeps the plan size constant across rounds, so the driver
    * does not re-analyse an unrolled tree on every action.
    *
    * Width: one partition per core, capped at `numShufflePartitions`.
    * An explicit `repartition(n, …)` is exempt from AQE coalescing, and
    * under the bench confs `numShufflePartitions` is
    * `initialPartitionNum` = 8×cores, so that width froze every layout,
    * and every round joining against it, at 8 tasks per core. The
    * width does not grow with the input: a layout whose per-core share
    * outgrows executor memory spills. Logical stats cannot size it,
    * since the layouts hold derived edge lists whose join estimates
    * multiply.
    *
    * Lifetime: inside [[withScope]] the result is registered with the
    * scope, and its blocks are unpersisted when the last scope holding
    * it closes, so a DataFrame built on it must run inside the scope
    * that built it. A hashed layout is plan-keyed and refcounted like a
    * persist: a plan-equal layout built twice in one scope is built
    * once. A cut (no `hashOn`) is registered by identity and never
    * shared: each round's plan holds the previous cut, so a rebuilt
    * loop in the same scope (a bench's timed rerun) would otherwise
    * replay the stored rounds instead of running them. A loop releases
    * a cut early with [[supersede]]. Outside any scope the
    * ContextCleaner frees the blocks once the result is unreachable.
    * The blocks live in executor storage only and do NOT survive
    * executor loss: a lost executor fails the query instead of
    * recomputing the cut. */
  def checkpoint(df: DataFrame, hashOn: Column*): DataFrame = {
    val laid = if (hashOn.isEmpty) df else df.repartition(width(df.sparkSession), hashOn: _*)
    if (depth.get() == 0) return laid.localCheckpoint(false)
    lazy val key = keyOf(laid, layout = true)
    val names = laid.schema.fieldNames.toSeq
    // a cut is never adopted
    def adopt() = if (hashOn.isEmpty) None else entries.synchronized(
      Option(entries.get(key)).map { e =>
        e.refs += 1
        reg.get() += key
        e.byNames.getOrElseUpdate(names, e.owner.toDF(names: _*))
      })
    adopt().getOrElse {
      // built outside the lock: under AQE the call already runs the
      // plan's shuffle stages
      val built = laid.localCheckpoint(false)
      val rdd = rddOf(built).get
      entries.synchronized(adopt() match {
        case Some(shared) => rdd.unpersist(false); shared // another scope won the race
        case None => register(if (hashOn.isEmpty) Cut(rdd) else key, built)(rdd.unpersist(false))
      })
    }
  }

  /** Releases the scoped cut `old` once `next`, a later cut of the same
    * loop, has been materialized: a materialized cut reads its own
    * blocks, not its input's, so the scope need hold only a loop's
    * latest cut instead of one per round. Does nothing while `next` is
    * unmaterialized (it still reads `old`), or when `old` is not a cut
    * registered in a scope; the scope close or the ContextCleaner then
    * releases it. */
  def supersede(old: DataFrame, next: DataFrame): Unit =
    if (rddOf(next).exists(_.isCheckpointed)) rddOf(old).foreach { rdd =>
      entries.synchronized(Option(entries.remove(Cut(rdd)))).foreach(_.release())
    }

  /** Run `body` (build a DataFrame AND execute its action), then
    * release every cache `body` registered on this thread; an entry is
    * actually released only when no other in-flight scope still holds
    * it. */
  def withScope[T](body: => T): T = {
    val buf = reg.get()
    val before = buf.length
    depth.set(depth.get() + 1)
    try body
    finally {
      depth.set(depth.get() - 1)
      val mine = buf.slice(before, buf.length)
      buf.remove(before, buf.length - before)
      entries.synchronized {
        mine.foreach { key =>
          val e = entries.get(key)
          // null: a loop already released this cut early (supersede)
          if (e != null) {
            e.refs -= 1
            if (e.refs <= 0) {
              entries.remove(key)
              e.release()
            }
          }
        }
      }
    }
  }
}
