package graftbench

import scala.collection.mutable

import graft.core.GraftSession

/** Compares the generated registry corpus with a directory of the fixture
  * family: each registry query runs on both, from a cleared session,
  * fully materialised into the `noop` sink, as the `registry_sf01`
  * workload runs it. Prints one JSON line with, per query and side, the
  * median wall time and the result rows.
  *
  *   Parity --fixtures <dir> --work <dir> --seed <n> --reps <n>
  *
  * Not part of a benchmark run (which reads nothing outside its
  * checkout); `run.py --parity <dir>` starts it.
  */
object Parity {

  def main(args: Array[String]): Unit = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val reps = m("reps").toInt
    val spark = GraftSession.local(Runtime.getRuntime.availableProcessors)
    try {
      val reg = new Registry(spark, m("seed").toLong, m("work"), sf = 0.01, Main.RegistryQueries)
      reg.setup()
      val sides = Seq("fixtures" -> m("fixtures"), "generated" -> reg.tablesDir)
      val ms = mutable.Map.empty[(String, String), mutable.ArrayBuffer[Double]]
      // round 0 warms both sides up; later rounds alternate which goes first
      (0 to reps).foreach { round =>
        (if (round % 2 == 0) sides else sides.reverse).foreach { case (side, dir) =>
          Main.RegistryQueries.foreach { q =>
            reg.clearSessionState()
            val t0 = System.nanoTime()
            reg.run(q, dir)
            val t = (System.nanoTime() - t0) / 1e6
            if (round > 0) ms.getOrElseUpdate((side, q), mutable.ArrayBuffer.empty) += t
          }
        }
      }
      val perQuery = Main.RegistryQueries.map { q =>
        q -> sides.map { case (side, dir) =>
          reg.clearSessionState()
          side -> Map("ms" -> Stats.median(ms((side, q)).toSeq),
            "rows" -> graft.SparkEntry.queries(q)(spark, dir).count())
        }.toMap
      }.toMap
      val totals = sides.map { case (side, dir) =>
        side -> Map("ms" -> Main.RegistryQueries.map(q => Stats.median(ms((side, q)).toSeq)).sum,
          "bytes" -> Model.bytesUnder(dir))
      }.toMap
      println("GRAFTBENCH_PARITY " + Main.json.writeValueAsString(
        Map("reps" -> reps, "per_query" -> perQuery, "totals" -> totals)))
    } finally spark.stop()
  }
}
