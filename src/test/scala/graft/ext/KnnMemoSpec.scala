package graft.ext

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import graft.SparkSuite
import graft.core.SessionScope

/** Contract of the kNN-graph memo (`SessionScope.memo`), which
  * s21/s28/s29/s30 and the c26/s31 serving twins all ride:
  *   1. build-once — two first callers racing on the SAME key run the
  *      build exactly once (the r13/r14 double-persist/double-build
  *      regressions);
  *   2. per-key locking — a slow build on one key must NOT serialize a
  *      different key's build behind it (the "g" entry's eager
  *      localCheckpoint runs a full Spark job; under the pre-r16 global
  *      `synchronized` every session's first build queued behind it);
  *   3. explicit eviction — `SessionScope.evict(session)` drops the
  *      session's entries so a later call rebuilds (session-level teardown
  *      under a shared context, where no context-end listener will ever
  *      fire).
  */
class KnnMemoSpec extends SparkSuite {

  test("same key: concurrent first callers build exactly once") {
    val builds = new AtomicInteger(0)
    val ready = new CountDownLatch(2)
    val results = new java.util.concurrent.ConcurrentLinkedQueue[AnyRef]()
    val threads = (1 to 2).map { _ =>
      new Thread(() => {
        ready.countDown()
        ready.await(5, TimeUnit.SECONDS)
        val df = SessionScope.memo(spark, "memo-spec-ds1", "k1") {
          builds.incrementAndGet()
          Thread.sleep(50) // widen the race window
          spark.range(3).toDF("i")
        }
        results.add(df)
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join(10000))
    assert(builds.get() == 1, s"build ran ${builds.get()} times, expected 1")
    assert(results.size == 2 && results.toArray.distinct.length == 1,
      "both callers must receive the same memoized frame")
    SessionScope.evict(spark)
  }

  test("different keys: a blocked build does not serialize other keys") {
    val slowEntered = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    val slow = new Thread(() => {
      SessionScope.memo(spark, "memo-spec-ds2", "slow") {
        slowEntered.countDown()
        release.await(10, TimeUnit.SECONDS)
        spark.range(1).toDF("i")
      }
    })
    slow.start()
    assert(slowEntered.await(5, TimeUnit.SECONDS), "slow build never started")
    // While the slow key's build is parked inside its cell, an unrelated
    // key must complete. Under a global build lock this deadlocks (the
    // fast caller waits on the monitor the slow build holds) and the
    // await below times out red.
    val fastDone = new CountDownLatch(1)
    val fast = new Thread(() => {
      SessionScope.memo(spark, "memo-spec-ds2", "fast") {
        spark.range(2).toDF("i")
      }
      fastDone.countDown()
    })
    fast.start()
    val fastCompleted = fastDone.await(5, TimeUnit.SECONDS)
    release.countDown()
    slow.join(10000); fast.join(10000)
    assert(fastCompleted,
      "an independent key's build was serialized behind another key's")
    SessionScope.evict(spark)
  }

  test("saved train index: one memoized build per (session, dataset) — t30 rides t29's files, fresh-path build agrees, eviction rebuilds") {
    // r18 verdict ask #1: t29, t30, and the twins used to each rebuild
    // the saved train index at a FIXED shared tmpdir path (duplicated
    // build cost + a latent overwrite-under-open-serve race). The memo
    // contract: (1) every caller in a session gets the SAME frame pair;
    // (2) the memoized content equals a fresh build at an independent
    // versioned path (the rebuild-loop path); (3) running the t29 then
    // t30 catalog queries rewrites NO index file — t30 really rides
    // t29's files; (4) eviction releases the memo for rebuild.
    val sf = "/root/testdata/sf0.001"
    val (cb1, enc1) = Similarity.ivfpqSaveTrainIndex(spark, sf)
    val (cb2, enc2) = Similarity.ivfpqSaveTrainIndex(spark, sf)
    assert((cb1 eq cb2) && (enc1 eq enc2),
      "second call must return the memoized frame pair, not a rebuild")
    val fresh = java.nio.file.Files.createTempDirectory("graft-idx-fresh").toString
    val (cbF, encF) = Similarity.ivfpqSaveTrainIndexAt(spark, sf, fresh)
    assert(enc1.collect().map(_.toSeq).toSet == encF.collect().map(_.toSeq).toSet,
      "memoized coded corpus must equal a fresh build's")
    assert(cb1.collect().map(_.toSeq).toSet == cbF.collect().map(_.toSeq).toSet,
      "memoized codebook must equal a fresh build's")
    // file-level proof that the two catalog consumers share ONE build:
    // the coded-corpus part listing (name, mtime, size) must be
    // identical before and after each query — an overwrite would bump
    // mtimes even with equal bytes
    val encDir = new java.io.File(SessionScope.artifactPath(spark, "t29", sf) + "/enc")
    def listing: Set[(String, Long, Long)] = encDir.listFiles()
      .map(f => (f.getName, f.lastModified, f.length)).toSet
    val snap = listing
    assert(graft.SparkEntry.queries("t29_rrf_served")(spark, sf).count() > 0)
    SessionScope.drain(spark)
    assert(listing == snap, "the t29 query rebuilt the memoized index")
    assert(graft.SparkEntry.queries("t30_served_fusion_recall")(spark, sf)
      .count() > 0)
    SessionScope.drain(spark)
    assert(listing == snap,
      "the t30 query rebuilt the index t29 already built — the memo is " +
        "not shared across the two consumers")
    SessionScope.evict(spark)
    val (cb3, _) = Similarity.ivfpqSaveTrainIndex(spark, sf)
    assert(!(cb3 eq cb1), "post-eviction call must rebuild")
    SessionScope.evict(spark)
  }

  test("evict drops the session's entries so a rebuild happens") {
    val builds = new AtomicInteger(0)
    def get() = SessionScope.memo(spark, "memo-spec-ds3", "k") {
      builds.incrementAndGet(); spark.range(1).toDF("i")
    }
    get(); get()
    assert(builds.get() == 1, "second call must hit the memo")
    SessionScope.evict(spark)
    get()
    assert(builds.get() == 2, "post-eviction call must rebuild")
    SessionScope.evict(spark)
  }
}
