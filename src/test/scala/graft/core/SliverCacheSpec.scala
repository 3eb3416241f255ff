package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** Pins the SliverCache contract for both tiers:
  *   - occupancy reflects reality after an EXTERNAL cache clear
  *     (`catalog.clearCache()` unpersists entries behind the FIFO's
  *     back — the stale slots must not count against [[SliverCache.Cap]]),
  *     and a keyed entry is re-armed on its next lookup;
  *   - re-registering the same logical plan MOVES the entry instead of
  *     occupying a second slot (Spark's CacheManager dedupes by plan, so
  *     evicting the older slot would silently uncache the newer one);
  *   - [[SliverCache.clear]] empties the FIFO, drops every keyed entry,
  *     and unpersists what is still cached;
  *   - keyed entries are not counted against [[SliverCache.Cap]];
  *   - a keyed entry is built once per key, and a new input fingerprint
  *     misses and releases the stale entry.
  */
class SliverCacheSpec extends AnyFunSuite {

  private val spark = SparkTestSession.spark

  test("occupancy drops to zero after an external catalog.clearCache") {
    SliverCache.clear()
    import spark.implicits._
    // distinct row sets — same-cardinality frames with different column
    // names canonicalize to the SAME plan and would share one slot
    val a = SliverCache.computeOnce((1 to 10).toDF("a"))
    val b = SliverCache.computeOnce((1 to 20).toDF("b"))
    assert(a.storageLevel != StorageLevel.NONE)
    assert(SliverCache.liveCount == 2)
    var builds = 0
    val key = SliverCache.Key(spark, "/d", "rearm", "fp")
    val k = SliverCache.memo(key) { builds += 1; (1 to 30).toDF("k").persist() }
    spark.catalog.clearCache() // the harness-style clear, outside the FIFO
    assert(SliverCache.liveCount == 0,
      "externally-uncached entries must not occupy FIFO slots")
    assert(k.storageLevel == StorageLevel.NONE)
    // the keyed entry re-arms the SAME handle instead of rebuilding
    val again = SliverCache.memo(key) { builds += 1; (1 to 30).toDF("k").persist() }
    assert((again eq k) && builds == 1)
    assert(k.storageLevel != StorageLevel.NONE, "keyed entry was not re-armed")
    val _ = b // keep the reference alive past the clear
    SliverCache.clear()
  }

  test("same-plan re-registration shares one slot (move-to-back)") {
    SliverCache.clear()
    import spark.implicits._
    val base = (1 to 10).toDF("v").filter(col("v") > 2)
    val first = SliverCache.computeOnce(base)
    // identical logical plan, registered again (the v2/v3 documents-base
    // shape from ADVICE #4)
    val second = SliverCache.computeOnce((1 to 10).toDF("v").filter(col("v") > 2))
    assert(SliverCache.liveCount == 1,
      "CacheManager holds ONE entry for this plan — so must the FIFO")
    // the shared cache entry is still live (the re-registration must not
    // have evicted it through the stale older slot)
    assert(second.storageLevel != StorageLevel.NONE)
    assert(first.count() == 8 && second.count() == 8)
    SliverCache.clear()
  }

  test("clear() empties the FIFO and unpersists live entries") {
    SliverCache.clear()
    import spark.implicits._
    val a = SliverCache.computeOnce((1 to 5).toDF("x"))
    assert(SliverCache.liveCount == 1)
    val key = SliverCache.Key(spark, "/d", "cleared", "fp")
    val m = SliverCache.memo(key)((1 to 6).toDF("m").persist())
    val p = SliverCache.put(key.copy(name = "put"), (1 to 7).toDF("n").persist())
    SliverCache.clear()
    assert(SliverCache.liveCount == 0)
    assert(a.storageLevel == StorageLevel.NONE,
      "clear() must release what it registered")
    assert(m.storageLevel == StorageLevel.NONE && p.storageLevel == StorageLevel.NONE,
      "clear() must release keyed entries too")
    // and a cleared key builds afresh
    val m2 = SliverCache.memo(key)((1 to 6).toDF("m").persist())
    assert(!(m2 eq m))
    SliverCache.clear()
  }

  test("Cap still bounds live slivers with dead slots pruned first") {
    SliverCache.clear()
    import spark.implicits._
    val pinned = SliverCache.memo(SliverCache.Key(spark, "/d", "pinned", "fp"))(
      (1 to 100).toDF("p").persist())
    val frames = (0 until SliverCache.Cap + 2).map { i =>
      // distinct upper bounds → genuinely distinct plans (column names
      // alone canonicalize away)
      SliverCache.computeOnce((1 to 5 + i).toDF(s"c$i"))
    }
    assert(SliverCache.liveCount == SliverCache.Cap)
    // the two OLDEST were evicted; the newest Cap remain cached
    assert(frames.head.storageLevel == StorageLevel.NONE)
    assert(frames.last.storageLevel != StorageLevel.NONE)
    assert(pinned.storageLevel != StorageLevel.NONE,
      "keyed entries must not count against Cap")
    SliverCache.clear()
  }

  test("keyed: a new input fingerprint misses and releases the stale entry") {
    SliverCache.clear()
    import spark.implicits._
    val k1 = SliverCache.Key(spark, "/d", "fp-test", "v1")
    val v1 = SliverCache.memo(k1)((1 to 3).toDF("v").persist())
    // another dir's entry under the same name is untouched
    val other = SliverCache.memo(k1.copy(dir = "/e"))((1 to 4).toDF("v").persist())
    val v2 = SliverCache.memo(k1.copy(fingerprint = "v2"))((1 to 5).toDF("v").persist())
    assert(v2.count() == 5, "rewritten input served the stale entry")
    assert(v1.storageLevel == StorageLevel.NONE, "stale entry not released")
    assert(other.storageLevel != StorageLevel.NONE)
    SliverCache.invalidate("fp-test", Some("/e"))
    assert(other.storageLevel == StorageLevel.NONE)
    assert(v2.storageLevel != StorageLevel.NONE)
    SliverCache.clear()
  }

  test("keyed: two threads on one key run one build") {
    SliverCache.clear()
    import spark.implicits._
    val key = SliverCache.Key(spark, "/d", "race", "fp")
    val builds = new java.util.concurrent.atomic.AtomicInteger
    val start = new java.util.concurrent.CountDownLatch(1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val futures = (1 to 2).map { _ =>
        pool.submit(new java.util.concurrent.Callable[DataFrame] {
          def call(): DataFrame = {
            start.await()
            SliverCache.memo(key) {
              builds.incrementAndGet()
              Thread.sleep(200) // widen the window a racing second build needs
              (1 to 9).toDF("r").persist()
            }
          }
        })
      }
      start.countDown()
      val got = futures.map(_.get(60, java.util.concurrent.TimeUnit.SECONDS))
      assert(builds.get == 1, s"${builds.get} builds for one key")
      assert(got(0) eq got(1))
    } finally pool.shutdown()
    SliverCache.clear()
  }
}
