package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

/** The LSH candidate memo's staleness contract is enforced by DATA
  * IDENTITY (round-4 advice): a corpus dir rewritten mid-session must
  * miss the memo and recompute over the new bytes — caller discipline
  * (invalidateLshCache) is a convenience, not a correctness requirement. */
class PipelineCacheSpec extends AnyFunSuite {

  private def spark: SparkSession = SparkTestSession.spark

  private def writeDocs(dir: String, texts: Seq[String]): Unit = {
    val s = spark
    import s.implicits._
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
  }

  test("a rewritten corpus dir misses the memo: results reflect the new files") {
    val dir = Files.createTempDirectory("lsh-identity").toString
    val texts = Seq(
      "alpha beta gamma delta epsilon zeta eta theta iota kappa",
      "one two three four five six seven eight nine ten eleven",
      "red green blue yellow purple orange brown black white gray")
    writeDocs(dir, texts)
    val first = SparkEntry.queries("q_minhash_pairs")(spark, dir).collect()
    // every doc gets a planted near-dup (+100000): with deterministic
    // hashing these texts provably produce pairs on ids 0..2
    assert(first.nonEmpty)
    val firstIds = first.flatMap(r => Seq(r.getLong(0), r.getLong(1))).toSet
    assert(firstIds.forall(id => (id % 100000) <= 2))

    // rewrite the SAME dir: IDENTICAL texts, doc_ids shifted +10 — the
    // hashes (hence the found pairs) are deterministic, so fresh results
    // MUST carry the shifted ids; stale memo results carry the old ones.
    // No invalidateLshCache call: identity enforcement is the point.
    val s = spark
    import s.implicits._
    texts.zipWithIndex.map { case (t2, i) => (i.toLong + 10, t2) }
      .toDF("doc_id", "text")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val second = SparkEntry.queries("q_minhash_pairs")(spark, dir).collect()
    val secondIds = second.flatMap(r => Seq(r.getLong(0), r.getLong(1))).toSet
    assert(second.length == first.length)
    assert(secondIds.forall(id => (id % 100000) >= 10 && (id % 100000) <= 12),
      s"memo served stale candidates: ids $secondIds")
    graft.QueriesPipeline.invalidateLshCache(Some(dir))
  }

  test("scratchBuckets fails loudly on a missing table") {
    val dir = Files.createTempDirectory("no-table").toString
    intercept[java.io.FileNotFoundException] {
      QueriesPipeline.scratchBuckets(spark, dir, "documents")
    }
  }

  test("evictSuperseded: a same-plan predecessor must NOT uncache the replacement") {
    // CacheManager keys entries by canonicalized plan, not handle: a
    // rerun that registers a fresh frame with the identical plan and
    // then unpersists its predecessor removes the entry the fresh frame
    // just created (measured at the 100× rung: the rerun probe re-ran
    // q_curation_pipeline_v3 at 19× its recorded time because every
    // rerun uncached its own gate set at registration). The keyed
    // registry's replace path must keep that guard.
    val s = spark
    import s.implicits._
    import graft.core.SliverCache
    val dir = Files.createTempDirectory("supersede").toString
    val key = SliverCache.Key(s, dir, "gate", "fp")
    val mk = () => Seq((1L, "a"), (2L, "b")).toDF("id", "t").filter(col("id") > 0)
    // a genuinely different predecessor IS released
    val other = Seq((9L, "z")).toDF("id", "t").persist()
    other.count()
    SliverCache.put(key, other)
    val old = mk().persist()
    old.count()
    SliverCache.put(key, old)
    assert(other.storageLevel == StorageLevel.NONE,
      "different-plan predecessor should be unpersisted")
    val nu = mk() // identical canonical plan — shares old's cache entry
    assert(nu.storageLevel != StorageLevel.NONE,
      "same-plan frame should report the shared cache entry")
    SliverCache.put(key, nu)
    assert(nu.storageLevel != StorageLevel.NONE,
      "evicting a same-plan predecessor destroyed the replacement's cache entry")
    // the same guard holds when the replaced entry was memo-built
    val key2 = SliverCache.Key(s, dir, "gate2", "fp")
    val built = SliverCache.memo(key2)(mk().filter(col("id") < 5).persist())
    SliverCache.put(key2, mk().filter(col("id") < 5))
    assert(built.storageLevel != StorageLevel.NONE)
    SliverCache.invalidate("gate", Some(dir))
    SliverCache.invalidate("gate2", Some(dir))
    assert(nu.storageLevel == StorageLevel.NONE && built.storageLevel == StorageLevel.NONE)
  }
}
