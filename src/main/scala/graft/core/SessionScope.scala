package graft.core

import scala.collection.concurrent.TrieMap

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Everything graft keeps per SparkSession, owned in one place:
  *
  *  - [[memo]]: build-once values several catalog queries derive from one
  *    (session, dataset) — the kNN graph stages, the BM25 tf frame, the
  *    saved train index, exact ground truth, table handles, partition
  *    counts. Each key gets its own cell whose lazy val serializes that
  *    key's build under the cell's own monitor: two first callers racing
  *    on one key run the build once, and a slow build (the "g" entry's
  *    eager `localCheckpoint()` runs a full Spark job) never blocks a
  *    caller of another key. Memoized frames should be
  *    `localCheckpoint`ed, not persisted: a persist registers in the
  *    CacheManager once and the first `clearCache()` strips it for good.
  *  - [[artifactPath]]: one tmpdir root per session for queries that
  *    write real files mid-plan (saved indexes, shard layouts, ledgers).
  *    A fixed per-dataset path let two sessions overwrite part files
  *    under each other's open lazy reads; a per-session root closes that
  *    across sessions and JVMs. A JVM shutdown hook deletes the tree.
  *  - [[cache]] / [[drain]]: per-call persists of the retrieval family
  *    (t26–t31 and their serving twins). A catalog lambda returns only
  *    its DataFrame and the runner materializes it later, so `cache`
  *    persists the frame and holds its unpersist until every runner
  *    (Verify, Bench, QueryTimer, CpuProbe, `SparkSuite.withFixture`, a
  *    serving loop after each batch) drains the session.
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
    val pending = scala.collection.mutable.ArrayBuffer[() => Unit]()
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

  /** `df` persisted at MEMORY_AND_DISK until the next [[drain]] of
    * `df.sparkSession`. The unpersist does not block, so it is safe on a
    * frame already dropped by `clearCache`. */
  def cache(df: DataFrame): DataFrame = {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    defer(p.sparkSession, () => { p.unpersist(false); () })
    p
  }

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

  /** Drop everything `s` owns after running its deferred handles; the
    * next call allocates fresh state. Call it once `s` has stopped
    * deferring. Artifact files stay on disk until JVM exit, since frames
    * may still be reading them lazily. */
  def evict(s: SparkSession): Unit = { states.remove(s).foreach(run); () }
}

/** Forwarder for callers that predate [[SessionScope]]. */
object QueryCleanup { def drain(s: SparkSession): Int = SessionScope.drain(s) }
