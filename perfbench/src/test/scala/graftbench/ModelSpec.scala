package graftbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class ModelSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.sql.shuffle.partitions", "2").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("sameRowsEach tells each pair apart, duplicates and column order included") {
    val a = spark.range(100).select(col("id"), (col("id") % 7).as("v"))
    val dup = a.unionAll(a.limit(1))
    val swapped = a.select(col("v"), col("id"))
    val changed = a.withColumn("v", when(col("id") === 42, lit(99L)).otherwise(col("v")))
    val same = Model.sameRowsEach(Seq(("same", a, swapped), ("dup", a, dup),
      ("changed", a, changed), ("columns", a, a.withColumnRenamed("v", "w"))))
    assert(same == Map("same" -> true, "dup" -> false, "changed" -> false, "columns" -> false))
    assert(Model.sameRows(a, swapped) && !Model.sameRows(changed, a))
  }
}
