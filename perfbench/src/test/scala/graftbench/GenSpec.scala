package graftbench

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.sql.shuffle.partitions", "2").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def same(a: DataFrame, b: DataFrame): Boolean =
    a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  private val sizes = Gen.sizes(0.001)

  test("one seed gives the same tables, however they are partitioned") {
    val end = 1700000000000000L
    val dirs = Seq(1, 3).map { parts =>
      val d = Files.createTempDirectory("gen").toString
      spark.conf.set("spark.sql.leafNodeDefaultParallelism", parts.toString)
      Gen.writeDatabase(spark, 7L, sizes, d, end)
      d
    }
    Gen.Tables.foreach { t =>
      val Seq(a, b) = dirs.map(d => spark.read.parquet(s"$d/$t.parquet"))
      assert(same(a, b), t)
    }
    val other = Files.createTempDirectory("gen").toString
    Gen.writeDatabase(spark, 8L, sizes, other, end, Seq("lineitem"))
    assert(!same(spark.read.parquet(s"${dirs.head}/lineitem.parquet"),
      spark.read.parquet(s"$other/lineitem.parquet")))
  }

  test("lineitem has a unique composite key and versions in range") {
    val li = Gen.withBaseVersion(Gen.lineitem(spark, 1L, sizes.orders, sizes.part, sizes.supplier), 1L, 1000L)
    assert(li.count() == sizes.lineitem)
    assert(li.select(Gen.LineitemPk.map(col): _*).distinct().count() == sizes.lineitem)
    val r = li.agg(min(Gen.VersionCol), max(Gen.VersionCol)).head()
    assert(r.getLong(0) >= 1L && r.getLong(1) <= 1000L)
  }

  test("change batches are seeded, delete keys, add keys and skew updates to recent orders") {
    val base = Gen.withBaseVersion(Gen.lineitem(spark, 1L, 2000, 100, 10), 1L, 1000L).cache()
    def next(seed: Long) = Gen.nextLineitemState(base, seed, 1, 1001L, 2000, 20, 100, 10,
      updatePermille = 80, deletePermille = 10)
    assert(same(next(1L), next(1L)))
    assert(!same(next(1L), next(2L)))
    val n = next(1L).cache()
    val keys = Gen.LineitemPk
    val deleted = base.join(n, keys, "left_anti").count()
    val inserted = n.filter(col("l_orderkey") >= 2000).count()
    val updated = n.filter(col(Gen.VersionCol) === 1001L && col("l_orderkey") < 2000)
    assert(deleted > 0 && inserted == 80)
    val recent = updated.filter(col("l_orderkey") >= 1000).count()
    val old = updated.filter(col("l_orderkey") < 1000).count()
    assert(recent > 2 * old, s"recent=$recent old=$old")
    assert(n.select(keys.map(col): _*).distinct().count() == n.count())
  }

  test("documents and embeddings have the fixture family's shape") {
    val words = Gen.documents(spark, 4L, 2000).select(split(col("text"), " ").as("w")).cache()
    val len = words.agg(min(size(col("w"))), max(size(col("w")))).head()
    assert(len.getInt(0) >= 10 && len.getInt(1) <= 99)
    val vocab = words.select(explode(col("w"))).distinct().collect().map(_.getString(0)).toSet
    assert(vocab.size == 31 && vocab.contains("dup"))
    val dups = words.filter(array_contains(col("w"), "dup")).count()
    assert(dups > 50 && dups < 150, s"dups=$dups")
    val x = Gen.embeddings(spark, 4L, 500).select(explode(col("embedding")).as("x"))
      .agg(avg("x"), stddev("x")).head()
    assert(math.abs(x.getDouble(0)) < 0.01 && math.abs(x.getDouble(1) - 0.125) < 0.005, x)
  }

  test("events keep a clear hour from every whole-day window edge") {
    val end = 1700000000000000L
    val hours = Gen.events(spark, 3L, 5000, 50, end, 30)
      .select(((lit(end) - unix_micros(col("ts"))) % lit(86400L * 1000000L)).as("r"))
      .agg(min("r"), max("r")).head()
    assert(hours.getLong(0) >= 3600L * 1000000L)
    assert(hours.getLong(1) <= 23L * 3600L * 1000000L)
  }

  test("driver-side draws repeat per seed and differ across seeds") {
    assert(Gen.rules(5L) == Gen.rules(5L))
    assert((1L to 20L).map(Gen.rules).distinct.size > 1)
    val r = Gen.rules(5L)
    assert(r.quantityFloor >= 6 && r.quantityFloor <= 20 && r.windowDays >= 10 && r.windowDays <= 20)
    assert(Gen.lookupKeys(5L, 1, 10, 1000L) == Gen.lookupKeys(5L, 1, 10, 1000L))
    assert(Gen.lookupKeys(5L, 1, 10, 1000L) != Gen.lookupKeys(6L, 1, 10, 1000L))
    assert(Gen.lookupKeys(5L, 1, 200, 1000L).forall { case (o, l) => o >= 0 && o < 1000 && l >= 1 && l <= 4 })
    val qs = (1 to 30).map(i => s"q$i")
    assert(Gen.permute(9L, qs) == Gen.permute(9L, qs))
    assert(Gen.permute(9L, qs).sorted == qs.sorted)
    assert(Gen.permute(9L, qs) != Gen.permute(10L, qs))
  }
}
