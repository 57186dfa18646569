package graft.core

import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger, AtomicIntegerArray, AtomicLong}

import org.apache.spark.ListenerCensus
import org.apache.spark.sql.SparkSession
import org.apache.spark.storage.StorageLevel

import graft.SparkSuite

/** Contract of the per-session scope (build-once memos are covered by
  * `graft.ext.KnnMemoSpec`):
  *   1. drain runs every deferred handle exactly once and reports the
  *      count; a second drain is a no-op; a throwing handle is swallowed
  *      and does not stop later handles (cleanup must never fail a query
  *      whose result materialized); a handle deferred after a drain runs
  *      at the next drain, also when defer and drain race;
  *   2. artifact paths are STABLE within a session and carry the family +
  *      dataset suffix; two sessions get DISJOINT roots (the
  *      overwrite-under-open-read race is closed by construction);
  *   3. sessions are isolated: draining or evicting one session touches
  *      nothing of another's; eviction releases the root, the memos, the
  *      table handles and the pending handles, but leaves the old
  *      directory on disk (frames may still read it lazily);
  *   4. one context-end listener per SparkContext, however many sessions;
  *   5. a cached frame stays persisted until its own session's drain,
  *      which counts and releases it;
  *   6. a frame memo builds once; its Storage decides whether a
  *      `clearCache` leaves it (Checkpointed) or the next read registers
  *      it again (Persisted); only evict releases a Persisted frame, and
  *      a frame a Checkpointed build caches lives only until the
  *      checkpoint.
  */
class SessionScopeSpec extends SparkSuite {

  test("drain runs handles once, reports count, second drain is empty") {
    val ran = new AtomicInteger(0)
    SessionScope.defer(spark, () => { ran.incrementAndGet(); () })
    SessionScope.defer(spark, () => { ran.incrementAndGet(); () })
    assert(SessionScope.drain(spark) == 2)
    assert(ran.get() == 2)
    assert(SessionScope.drain(spark) == 0, "second drain must be empty")
    assert(ran.get() == 2, "handles must not re-run")
  }

  test("a throwing handle is swallowed and later handles still run") {
    val ran = new AtomicInteger(0)
    SessionScope.defer(spark, () => { ran.incrementAndGet(); () })
    SessionScope.defer(spark,
      () => throw new RuntimeException("cleanup blew up"))
    SessionScope.defer(spark, () => { ran.incrementAndGet(); () })
    assert(SessionScope.drain(spark) == 3,
      "the count reports deferred handles, including the thrower")
    assert(ran.get() == 2, "handles after the thrower must still run")
  }

  test("sessions are isolated: draining one does not run the other's handles") {
    val other = spark.newSession()
    val mine = new AtomicInteger(0)
    val theirs = new AtomicInteger(0)
    SessionScope.defer(spark, () => { mine.incrementAndGet(); () })
    SessionScope.defer(other, () => { theirs.incrementAndGet(); () })
    assert(SessionScope.drain(spark) == 1)
    assert(mine.get() == 1 && theirs.get() == 0,
      "draining spark must not touch the sibling session's handles")
    assert(SessionScope.drain(other) == 1)
    assert(theirs.get() == 1)
    SessionScope.evict(other)
  }

  test("a handle registered after a drain runs at the next drain") {
    SessionScope.defer(spark, () => ())
    SessionScope.drain(spark)
    val late = new AtomicInteger(0)
    SessionScope.defer(spark, () => { late.incrementAndGet(); () })
    assert(SessionScope.drain(spark) == 1)
    assert(late.get() == 1)
  }

  test("defer racing a looping drain: every handle runs exactly once") {
    // a drain that detaches the pending list while a defer still holds
    // it loses that handle for good
    val s = spark.newSession()
    val (writers, perWriter) = (4, 50000)
    val ran = new AtomicIntegerArray(writers * perWriter)
    val drained = new AtomicLong(0)
    val done = new AtomicBoolean(false)
    val drainer = new Thread(() =>
      while (!done.get()) drained.addAndGet(SessionScope.drain(s).toLong))
    drainer.start()
    val ts = (0 until writers).map { w =>
      new Thread(() => (0 until perWriter).foreach { i =>
        val k = w * perWriter + i
        SessionScope.defer(s, () => { ran.incrementAndGet(k); () })
      })
    }
    ts.foreach(_.start()); ts.foreach(_.join())
    done.set(true); drainer.join()
    drained.addAndGet(SessionScope.drain(s).toLong)
    assert(drained.get() == writers.toLong * perWriter,
      s"drains reported ${drained.get()} of ${writers * perWriter} handles")
    val wrong = (0 until ran.length()).count(ran.get(_) != 1)
    assert(wrong == 0, s"$wrong handles did not run exactly once")
    SessionScope.evict(s)
  }

  test("cache persists a frame until its session's drain, which counts and releases it") {
    // id-set difference, as the serving-twin censuses: immune to the
    // async ContextCleaner dropping unrelated ids concurrently
    def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val other = spark.newSession()
    val before = persisted
    val mine = SessionScope.cache(spark.range(0, 1000).selectExpr("id * 3 AS y"))
    assert(mine.storageLevel == StorageLevel.MEMORY_AND_DISK)
    assert(mine.count() == 1000)
    val myIds = persisted -- before
    assert(myIds.nonEmpty, "a materialized cached frame must register an RDD")
    val theirs = SessionScope.cache(other.range(0, 1000).selectExpr("id * 7 AS z"))
    assert(theirs.count() == 1000)
    val theirIds = persisted -- before -- myIds
    assert(theirIds.nonEmpty)

    assert(SessionScope.drain(spark) == 1, "the drain counts the cached frame")
    assert((persisted & myIds).isEmpty,
      s"drain left the cached frame persisted: ${persisted & myIds}")
    assert(theirIds.subsetOf(persisted),
      "draining spark must not release the sibling session's cache")
    assert(SessionScope.drain(other) == 1)
    assert((persisted & theirIds).isEmpty,
      s"drain(other) left its frame persisted: ${persisted & theirIds}")
    SessionScope.evict(other)
  }

  test("frame memos: built once; Checkpointed survives clearCache, Persisted registers again; drain keeps both, evict releases") {
    val s = spark.newSession()
    var builds = 0
    var scratch: org.apache.spark.sql.DataFrame = null
    def cp = SessionScope.frame(s, "/d", "cp", SessionScope.Checkpointed) {
      builds += 1
      scratch = SessionScope.cache(s.range(0, 50).selectExpr("id % 7 AS k"))
      scratch.union(scratch).repartition(2)
    }
    def ps = SessionScope.frame(s, "/d", "ps", SessionScope.Persisted) {
      builds += 1; s.range(0, 100).selectExpr("id % 5 AS k").repartition(2)
    }
    val (c, p) = (cp, ps)
    assert((cp eq c) && (ps eq p) && builds == 2, "each key builds once")
    assert(c.queryExecution.analyzed.getClass.getSimpleName == "LogicalRDD",
      "a Checkpointed frame is cut to its checkpoint")
    assert(scratch.storageLevel == StorageLevel.NONE,
      "a frame its build cached is released once the checkpoint materializes")
    assert(p.storageLevel == StorageLevel.MEMORY_AND_DISK)
    assert(SessionScope.persistedFrames(s).map(_.schema) == Seq(p.schema))
    assert(c.count() == 100 && p.count() == 100)
    s.sharedState.cacheManager.clearCache()
    assert(p.storageLevel == StorageLevel.NONE)
    assert(ps.storageLevel == StorageLevel.MEMORY_AND_DISK, "the next read registers it again")
    assert(c.count() == 100 && builds == 2, "the checkpoint survives the clear, nothing rebuilds")
    assert(SessionScope.drain(s) == 0, "memos are not per-call handles")
    assert(p.storageLevel == StorageLevel.MEMORY_AND_DISK)
    SessionScope.evict(s)
    assert(p.storageLevel == StorageLevel.NONE, "evict releases the Persisted frames")
    assert(SessionScope.persistedFrames(s).isEmpty)
  }

  test("path is stable within a session and keyed by family + dataset") {
    val a = SessionScope.artifactPath(spark, "famA", "/data/sf1")
    assert(a == SessionScope.artifactPath(spark, "famA", "/data/sf1"),
      "same (session, family, dataset) must resolve to the same path")
    assert(a != SessionScope.artifactPath(spark, "famB", "/data/sf1"),
      "families must not share a directory")
    assert(a != SessionScope.artifactPath(spark, "famA", "/data/sf2"),
      "datasets must not share a directory")
    assert(a.endsWith("famA__data_sf1"),
      s"path must carry the sanitized family+dataset suffix, got $a")
  }

  test("two sessions get disjoint roots — the cross-session race is structural") {
    val other = spark.newSession()
    val mine = SessionScope.artifactPath(spark, "fam", "/data/sf1")
    val theirs = SessionScope.artifactPath(other, "fam", "/data/sf1")
    assert(mine != theirs,
      "same family+dataset in two sessions must NOT collide")
    SessionScope.evict(other)
  }

  test("evict releases the root: fresh allocation, old directory untouched") {
    val before = SessionScope.artifactPath(spark, "fam", "/data/sf1")
    val dir = new java.io.File(before).getParentFile
    dir.mkdirs() // materialize the root as a writer would
    assert(dir.exists())
    SessionScope.evict(spark)
    val after = SessionScope.artifactPath(spark, "fam", "/data/sf1")
    assert(after != before, "post-eviction call must allocate a fresh root")
    assert(dir.exists(),
      "eviction must not delete the old root — open lazily-read frames " +
        "may still reference it (the JVM shutdown hook reclaims it)")
    SessionScope.evict(spark)
  }

  test("evict(other) drops all of other's state and nothing of spark's") {
    val sf = "/root/testdata/sf0.001"
    val other = spark.newSession()
    final case class Held(memo: AnyRef, pair: (AnyRef, AnyRef), root: String,
                          table: AnyRef)
    def held(s: SparkSession) = Held(
      SessionScope.memo(s, "ds", "k")(new Object),
      SessionScope.memo(s, "ds", "pair")((new Object, new Object)),
      SessionScope.artifactPath(s, "fam", "ds"),
      Tables.table(s, sf, "region"))
    val (mine, theirs) = (held(spark), held(other))
    val (myRan, theirRan) = (new AtomicInteger(0), new AtomicInteger(0))
    SessionScope.defer(spark, () => { myRan.incrementAndGet(); () })
    SessionScope.defer(other, () => { theirRan.incrementAndGet(); () })

    SessionScope.evict(other)
    assert(theirRan.get() == 1, "evict runs the pending handles once")
    assert(SessionScope.drain(other) == 0, "no pending handle survives evict")
    val theirsAfter = held(other)
    assert(!(theirsAfter.memo eq theirs.memo), "memo must rebuild")
    assert(!(theirsAfter.pair eq theirs.pair), "index pair must rebuild")
    assert(theirsAfter.root != theirs.root, "artifact root must be fresh")
    assert(!(theirsAfter.table eq theirs.table), "table handle must be re-read")

    val mineAfter = held(spark)
    assert((mineAfter.memo eq mine.memo) && (mineAfter.pair eq mine.pair) &&
      (mineAfter.table eq mine.table) && mineAfter.root == mine.root,
      "evicting a sibling must keep spark's memos, root and table handles")
    assert(myRan.get() == 0 && SessionScope.drain(spark) == 1,
      "evicting a sibling must not run or drop spark's pending handles")
    SessionScope.evict(other)
  }

  test("N sessions on one context register exactly one eviction listener") {
    val sc = spark.sparkContext
    SessionScope.artifactPath(spark, "fam", "ds") // the context is hooked
    val before = ListenerCensus.listeners(sc).size
    val sessions = (1 to 5).map(_ => spark.newSession())
    sessions.foreach { s =>
      SessionScope.memo(s, "ds", "k")(new Object)
      SessionScope.artifactPath(s, "fam", "ds")
      SessionScope.defer(s, () => ())
    }
    val added = ListenerCensus.listeners(sc).size - before
    assert(added == 0, s"${sessions.size} sessions added $added listeners")
    val hooks = ListenerCensus.listeners(sc)
      .count(_.getClass.getName.startsWith(SessionScope.getClass.getName))
    assert(hooks == 1, s"$hooks eviction listeners on one context")
    sessions.foreach(SessionScope.evict)
  }
}
