package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session fixture: one local session per suite, UTC, small shuffle
  * fan-out (local mode — not the default 200). */
trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName(getClass.getSimpleName)
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.warehouse.dir",
      s"/tmp/graft-warehouse-${sys.props.getOrElse("user.name", "u")}")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  def fixedClock(iso: String): () => java.time.Instant = {
    val i = java.time.Instant.parse(iso)
    () => i
  }

  /** Drain the session's deferred cleanup handles
    * (`graft.core.SessionScope.drain`) after every test: a
    * spec that invokes a catalog lambda is that query's RUNNER, so it
    * owes the runner's drain (Verify/Bench do the same). Without this,
    * the managed queries' deferred-but-undrained persists accumulate
    * across the suite AND plan-alias with frames a later test builds
    * itself — its cleanup then uncaches the shared entry and the
    * CacheManager's recache-of-dependents makes alien cache entries
    * reappear under fresh RDD ids mid-test (observed: the t30 rebuild-
    * loop census tripping over the t26–t29 specs' undrained frames). */
  override protected def withFixture(test: NoArgTest): org.scalatest.Outcome =
    try super.withFixture(test)
    finally graft.core.SessionScope.drain(spark)
}
