package graftbench

import java.io.File
import java.sql.Connection

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.util.LongAccumulator

import graft.sinks.CopyLoader

/** The benchmark's own model of correct outputs, and its stand-ins for
  * the outside world. Nothing here calls the program's checksum code. */
object Model {

  /** Same multiset of rows, column order aside. */
  def sameRows(expected: DataFrame, actual: DataFrame): Boolean =
    sameRowsEach(Seq(("", expected, actual)))("")

  /** [[sameRows]] of each named (expected, actual) pair, checked with
    * `exceptAll` both ways in one Spark action, so the comparisons'
    * stages run side by side. */
  def sameRowsEach(pairs: Seq[(String, DataFrame, DataFrame)]): Map[String, Boolean] = {
    def comparable(e: DataFrame, a: DataFrame) = e.columns.toSet == a.columns.toSet
    val diffs = pairs.collect { case (name, e, a) if comparable(e, a) =>
      val cols = e.columns.toSeq.sorted.map(col)
      val (x, y) = (e.select(cols: _*), a.select(cols: _*))
      x.exceptAll(y).unionAll(y.exceptAll(x)).limit(1).select(lit(name))
    }
    val differing = diffs.reduceOption(_ unionAll _).toSeq.flatMap(_.collect()).map(_.getString(0)).toSet
    pairs.map { case (name, e, a) => name -> (comparable(e, a) && !differing(name)) }.toMap
  }

  /** COPY text escaping of one field (`\N` for null). */
  private def copyField(c: Column): Column =
    coalesce(
      Seq("\\" -> "\\\\", "\t" -> "\\t", "\n" -> "\\n", "\r" -> "\\r")
        .foldLeft(c) { case (acc, (from, to)) => replace(acc, lit(from), lit(to)) },
      lit("\\N"))

  /** Bytes a COPY text stream of a `(id, data, _source_type)` frame holds:
    * three escaped fields, two tabs and a newline per row. */
  def copyBytes(docs: DataFrame): Long =
    docs.agg(sum(octet_length(copyField(col("id"))) + octet_length(copyField(col("data"))) +
      octet_length(copyField(col("_source_type"))) + 3).cast("long")).head().getLong(0)

  /** A COPY sink that counts rows, bytes and chunks and discards them.
    * Counters are accumulators, so counts from task closures reach the
    * driver. */
  final class CountingCopyApi(val rows: LongAccumulator, val bytes: LongAccumulator,
                              val chunks: LongAccumulator) extends CopyLoader.CopyApi {
    def copyIn(conn: Connection, sql: String, it: Iterator[Array[Byte]]): Long = {
      var n = 0L
      it.foreach { c =>
        chunks.add(1)
        bytes.add(c.length.toLong)
        n += c.count(_ == '\n'.toByte)
      }
      rows.add(n)
      n
    }
  }

  /** A JDBC connection that accepts only `close`: the COPY path needs a
    * connection handle, and the counting sink never uses it. */
  def nullConnection(): Connection =
    java.lang.reflect.Proxy.newProxyInstance(classOf[Connection].getClassLoader,
      Array(classOf[Connection]), (_: Any, m: java.lang.reflect.Method, _: Array[AnyRef]) =>
        m.getName match {
          case "close" => null
          case "isClosed" => java.lang.Boolean.FALSE
          case other => throw new UnsupportedOperationException(s"Connection.$other")
        }).asInstanceOf[Connection]

  // ---- file-tree measures ----------------------------------------------

  def tree(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(tree) else Seq(f)

  def bytesUnder(path: String): Long = tree(new File(path)).map(_.length).sum

  /** Parquet data files under a directory. */
  def dataFiles(path: String): Int = tree(new File(path)).count(_.getName.endsWith(".parquet"))

  def deleteTree(path: String): Unit = {
    def rm(f: File): Unit = {
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.foreach(rm)
      f.delete()
    }
    rm(new File(path))
  }
}
