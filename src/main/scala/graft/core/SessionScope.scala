package graft.core

import scala.collection.concurrent.TrieMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Everything graft keeps per SparkSession, owned in one place — and the
  * one module that decides how a frame is stored and when it is released
  * (catalog code calls these; it never persists, checkpoints or
  * unpersists a frame itself):
  *
  *  - [[memo]]: build-once values several catalog queries derive from one
  *    (session, dataset) — the saved train index, table handles,
  *    partition counts. Each key gets its own cell whose lazy val
  *    serializes that key's build under the cell's own monitor: two first
  *    callers racing on one key run the build once, and a slow build
  *    never blocks a caller of another key.
  *  - [[frame]]: a memoized DataFrame — the kNN graph stages, the BM25 tf
  *    frame, exact ground truth, the MinHash signatures, the graph edge
  *    frames. Queries that share a build call its memo, which is keyed on
  *    the session and dataset it was built from; CacheManager
  *    plan-matching of two queries' identical subplans is keyed on
  *    nothing. Its [[Storage]] says how it is kept.
  *  - [[artifactPath]]: one tmpdir root per session for queries that
  *    write real files mid-plan (saved indexes, shard layouts, ledgers).
  *    A fixed per-dataset path let two sessions overwrite part files
  *    under each other's open lazy reads; a per-session root closes that
  *    across sessions and JVMs. A JVM shutdown hook deletes the tree.
  *  - [[cache]] / [[drain]]: per-call persists. A catalog lambda returns
  *    only its DataFrame and the runner materializes it later, so `cache`
  *    persists the frame and holds its unpersist until every runner
  *    (Verify, Bench, QueryTimer, `SparkSuite.withFixture`, a
  *    serving loop after each batch) drains the session. [[release]]
  *    drops one earlier, for a loop that is done with a level.
  *
  * Lifecycle: a session's state is dropped when its SparkContext ends
  * (one listener per context) or on [[evict]], which a pool of
  * `newSession()`s sharing one context must call at session teardown —
  * Spark has no session-end event.
  */
object SessionScope {
  private final class Cell(build: () => Any) {
    lazy val value: Any = build()
  }

  private final class State {
    val memos = TrieMap[(String, Any), Cell]()
    val pending = ArrayBuffer[() => Unit]()
    val persisted = new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()
    lazy val root: String = {
      val dir = java.nio.file.Files.createTempDirectory("graft_artifacts_").toFile
      Runtime.getRuntime.addShutdownHook(new Thread(() => {
        def rm(f: java.io.File): Unit = {
          if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(rm)
          f.delete(); ()
        }
        rm(dir)
      }))
      dir.getAbsolutePath
    }
  }

  private val states = TrieMap[SparkSession, State]()
  private val hooked = java.util.Collections.newSetFromMap(
    new java.util.concurrent.ConcurrentHashMap[SparkContext, java.lang.Boolean]())

  private def state(s: SparkSession): State =
    states.getOrElse(s, {
      val sc = s.sparkContext
      if (hooked.add(sc)) sc.addSparkListener(new SparkListener {
        override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit = {
          states.keys.filter(_.sparkContext eq sc).foreach(states.remove)
          hooked.remove(sc); ()
        }
      })
      states.getOrElseUpdate(s, new State)
    })

  /** The value of `build` for (`s`, dataset `d`, `key`), built at most
    * once per session until [[evict]]. The caller owns the key's type. */
  def memo[A](s: SparkSession, d: String, key: Any)(build: => A): A =
    state(s).memos.getOrElseUpdate((d, key), new Cell(() => build))
      .value.asInstanceOf[A]

  /** The session's path for `family` on dataset `d`, e.g.
    * `/tmp/graft_artifacts_3f.../c13_shards__root_testdata_sf0_01`.
    * Stable within a session, unique across sessions. */
  def artifactPath(s: SparkSession, family: String, d: String): String =
    state(s).root + "/" + family + "_" + d.replaceAll("[^A-Za-z0-9]", "_")

  /** How [[frame]] keeps a memoized DataFrame. */
  sealed trait Storage

  /** `localCheckpoint()`ed when built (eager): the lineage is cut to a
    * LogicalRDD and the blocks belong to the RDD, so `clearCache()` never
    * strips it. The plan's output partitioning is lost — this Spark
    * build's LogicalRDD does not carry it — so a frame whose layout later
    * joins rely on must be [[Persisted]] instead. A frame the build
    * [[cache]]s (read by several arms of the checkpointed plan) is
    * released as soon as the checkpoint materializes. */
  case object Checkpointed extends Storage

  /** Persisted at MEMORY_AND_DISK (lazy), keeping the plan and its output
    * partitioning, e.g. g01's `repartition(u)` edge list. A `clearCache()`
    * drops the CacheManager entry; the next read registers it again. */
  case object Persisted extends Storage

  /** The frame `build` for (`s`, dataset `d`, `key`), built at most once
    * per session until [[evict]] and kept as `storage` says. */
  def frame(s: SparkSession, d: String, key: String, storage: Storage)(
      build: => DataFrame): DataFrame = storage match {
    case Checkpointed => memo(s, d, key) {
      val scope = ArrayBuffer[() => Unit]()
      building.set(scope :: building.get)
      try build.localCheckpoint()
      finally { building.set(building.get.tail); scope.foreach(_()) }
    }
    case Persisted =>
      val df = memo(s, d, key) { val b = build; state(s).persisted.add(b); b }
      if (df.storageLevel == StorageLevel.NONE) df.persist(StorageLevel.MEMORY_AND_DISK)
      df
  }

  /** The [[Persisted]] memo frames `s` has built — the only CacheManager
    * entries allowed to outlive a query. */
  private[graft] def persistedFrames(s: SparkSession): Seq[DataFrame] =
    states.get(s).fold(Seq.empty[DataFrame])(_.persisted.asScala.toList)

  /** `ds` persisted at MEMORY_AND_DISK until the next [[drain]] of
    * `ds.sparkSession`, or, inside a [[Checkpointed]] build, until that
    * checkpoint materializes. The unpersist does not block, so it is safe
    * on a frame already dropped by `clearCache` or [[release]]. */
  def cache[T](ds: Dataset[T]): Dataset[T] = {
    val p = ds.persist(StorageLevel.MEMORY_AND_DISK)
    val unpersist = () => { p.unpersist(false); () }
    building.get match {
      case scope :: _ => scope += unpersist
      case Nil => defer(p.sparkSession, unpersist)
    }
    p
  }

  /** Per thread, the release lists of the [[Checkpointed]] builds it is
    * running, innermost first. */
  private val building = ThreadLocal.withInitial[List[ArrayBuffer[() => Unit]]](() => Nil)

  /** Unpersist a [[cache]]d frame now rather than at the drain. */
  def release(ds: Dataset[_]): Unit = { ds.unpersist(false); () }

  /** Defer `f` until the next [[drain]] of `s`. */
  private[core] def defer(s: SparkSession, f: () => Unit): Unit = {
    val p = state(s).pending
    p.synchronized { p += f }
    ()
  }

  /** Run and discard every handle deferred for `s` (each [[cache]]d
    * frame's unpersist); returns how many ran. Failures are swallowed —
    * cleanup must never fail a query whose result already materialized. */
  def drain(s: SparkSession): Int = states.get(s).fold(0)(run)

  private def run(st: State): Int = {
    val fs = st.pending.synchronized {
      val c = st.pending.toList; st.pending.clear(); c
    }
    fs.foreach(f => try f() catch { case _: Throwable => () })
    fs.size
  }

  /** Drop everything `s` owns after running its deferred handles and
    * unpersisting its [[Persisted]] frames; the next call allocates fresh
    * state. Call it once `s` has stopped deferring. Artifact files stay on
    * disk until JVM exit, since frames may still be reading them lazily. */
  def evict(s: SparkSession): Unit = states.remove(s).foreach { st =>
    run(st)
    st.persisted.asScala.foreach(_.unpersist(false))
  }
}

/** Forwarder for callers that predate [[SessionScope]]. */
object QueryCleanup { def drain(s: SparkSession): Int = SessionScope.drain(s) }
