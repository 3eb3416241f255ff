package graftbench

import java.lang.management.ManagementFactory

import scala.collection.mutable

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

import graft.core.GraftSession

/** Benchmark driver for one workload in one JVM.
  *
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
  *
  * Sets the workload up once (cold), warms it up with one pass, then sets
  * it up `Reps` more times (their median is `setup_s`; traced runs skip
  * this), and runs passes in a closed loop while another one fits in
  * `--seconds`. With `--trace 1`
  * the loop alternates untraced and traced passes instead and yields the
  * per-layer ledger; `trace.overhead` compares the two kinds. The last stdout line is one JSON object with the raw
  * results.
  */
object Main {

  val Reps = 3

  /** Registry queries the `registry_sf01` workload runs. */
  val RegistryQueries: Seq[String] = Seq(
    "q1_agg", "q_join_agg", "q_jsonb_encode", "q_sync_cycle", "q_minhash_pairs", "q_ann_topk",
    "q_heavy_hitters", "q_tfidf_terms", "q_curation_pipeline")

  val json: JsonMapper = JsonMapper.builder().addModule(DefaultScalaModule).build()

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        work: String)

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      need("work"))
  }

  def workload(o: Opts, spark: SparkSession): Workload = o.workload match {
    case "bulk_replicate" => new BulkReplicate(spark, o.seed, o.work, sf = 0.01, lookups = 5)
    case "registry_sf01" => new Registry(spark, o.seed, o.work, sf = 0.01, RegistryQueries)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Spans every workload may open, in ledger order. */
  val Spans: Seq[String] = Seq("snapshot.run", "snapshot.verify_dirs", "jsonb.ingest",
    "streaming.run_loop", "streaming.follow", "sources.store_lookup", "registry.query")

  val Counters: Seq[String] = Seq("sinks.store.commits", "sinks.store.buckets_rewritten",
    "sinks.store.rows_rewritten_per_change", "sinks.store.bytes_written",
    "sinks.store.version_dirs", "sinks.store.files", "streaming.follow.buckets_replaced",
    "sources.store_lookup.files_scanned", "sinks.copy.bytes", "sinks.copy.chunks",
    "snapshot.rows_kept_ratio")

  private def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  private def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Heap in use after a forced full GC: the live heap. GCs repeat while
    * Spark's storage memory is still shrinking, so the context cleaner has
    * dropped the blocks of broadcasts and shuffles a GC found unreachable. */
  private def liveHeapMb(spark: SparkSession): Double = {
    def stored = spark.sparkContext.getExecutorMemoryStatus.values.map { case (max, free) => max - free }.sum
    val t0 = System.nanoTime()
    var last = Long.MaxValue
    System.gc()
    while (stored < last && seconds(t0) < 2.0) {
      last = stored
      Thread.sleep(100)
      System.gc()
    }
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  /** Let the JIT finish compiling what the warm-up made hot (its
    * compilation time stops growing), then collect the warm-up's garbage,
    * so what follows starts from the same state every run. */
  private def quiesce(maxSeconds: Double = 1.0): Unit = {
    val t0 = System.nanoTime()
    var last = -1L
    while (jitMs != last && seconds(t0) < maxSeconds) {
      last = jitMs
      Thread.sleep(250)
    }
    System.gc()
  }

  /** What a closed loop measured, per harness. */
  final case class Loop(passesMs: Map[Harness, Seq[Double]], peakHeapMb: Double,
                        jitS: Map[Harness, Double])

  /** Passes in a closed loop, taking the harnesses in turn (untraced
    * first), while another turn fits in `seconds`. With one harness that
    * is at least one pass; with an untraced and a traced one it is
    * U T U (T U)…, at least three passes and ending on an untraced one, so
    * JIT warm-up or host drift that is linear in time weighs on both
    * sides alike. A harness with a tracer has it attached only during its
    * own passes. */
  private def loop(spark: SparkSession, w: Workload, hs: Seq[Harness], seconds: Double): Loop = {
    quiesce()
    val passes = hs.map(_ -> mutable.ArrayBuffer.empty[Double]).toMap
    val jit = mutable.Map(hs.map(_ -> 0L): _*)
    val minPasses = if (hs.size == 1) 1 else 3
    var heap = 0.0
    val t0 = System.nanoTime()
    var last = 0.0
    var n = 0
    def more = n < minPasses || (n - 1) % hs.size != 0 || Main.seconds(t0) + last * hs.size <= seconds
    while (more) {
      val h = hs(n % hs.size)
      val p0 = System.nanoTime()
      h.tracer.foreach(_.attach())
      val j0 = jitMs
      passes(h) += w.pass(h)
      jit(h) += jitMs - j0
      h.tracer.foreach(_.detach())
      heap = math.max(heap, liveHeapMb(spark))
      last = Main.seconds(p0)
      n += 1
    }
    Loop(passes.map { case (h, xs) => h -> xs.toSeq }, heap,
      jit.map { case (h, ms) => h -> ms / 1000.0 }.toMap)
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val nproc = Runtime.getRuntime.availableProcessors
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = GraftSession.local(nproc)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    try {
      val w = workload(o, spark)
      val c0 = System.nanoTime()
      w.setup()
      val coldSetupS = seconds(c0)
      val h = new Harness(None)
      val w0 = System.nanoTime()
      w.warmUp(h)
      val warmUpS = seconds(w0)
      quiesce()
      // a traced run reports no set-up time
      val setup = (1 to (if (o.trace) 0 else Reps)).map { _ =>
        val t0 = System.nanoTime()
        w.setup()
        seconds(t0)
      }

      val layer = mutable.LinkedHashMap.empty[String, Double]
      // A traced run compares traced with untraced passes, so it first
      // takes unrecorded passes for another `--seconds` (at least one), to
      // get past the steepest part of the JIT warm-up, which would favour
      // whichever side runs later.
      if (o.trace) {
        val t0 = System.nanoTime()
        do w.pass(new Harness(None)) while (seconds(t0) < o.seconds)
      }
      val tracer = if (o.trace) Some(new Tracer(spark, s"${o.workload}-${o.seed}")) else None
      val ht = tracer.map(t => new Harness(Some(t)))
      val l0 = System.nanoTime()
      val run = loop(spark, w, h +: ht.toSeq, o.seconds)
      val loopS = seconds(l0)
      val passes = run.passesMs(h)
      (tracer, ht) match {
        case (Some(tracer), Some(ht)) =>
          layer("jvm.jit_s") = run.jitS(ht)
          val ledger = tracer.ledger(nproc)
          val rows = ledger.rows.map(r => r.name -> r).toMap
          Spans.foreach { s =>
            val r = rows.get(s)
            def per(x: Double) = r.map(rr => x / math.max(1, rr.calls)).getOrElse(0.0)
            layer(s"$s.calls") = r.map(_.calls.toDouble).getOrElse(0.0)
            layer(s"$s.wall_s") = per(r.map(_.wallS).getOrElse(0.0))
            layer(s"$s.plan_s") = per(r.map(_.planS).getOrElse(0.0))
            layer(s"$s.job_s") = per(r.map(_.jobS).getOrElse(0.0))
            layer(s"$s.driver_s") = per(r.map(_.driverS).getOrElse(0.0))
            layer(s"$s.jobs") = per(r.map(_.jobs.toDouble).getOrElse(0.0))
            layer(s"$s.stages") = per(r.map(_.stages.toDouble).getOrElse(0.0))
            layer(s"$s.tasks") = per(r.map(_.tasks.toDouble).getOrElse(0.0))
            layer(s"$s.task_s") = per(r.map(_.taskS).getOrElse(0.0))
            layer(s"$s.cores_busy") = r.map(_.coresBusy).getOrElse(0.0)
            layer(s"$s.shuffle_bytes") = per(r.map(_.shuffleBytes.toDouble).getOrElse(0.0))
            layer(s"$s.spill_bytes") = per(r.map(_.spillBytes.toDouble).getOrElse(0.0))
            layer(s"$s.gc_s") = per(r.map(_.gcS).getOrElse(0.0))
          }
          val c = w.counters
          Counters.foreach(k => layer(k) = c.getOrElse(k, 0.0))
          layer("trace.unattributed_job_share") = ledger.unattributedJobShare
          layer("trace.overhead") = Stats.median(run.passesMs(ht)) / Stats.median(passes) - 1.0
          def row(r: Tracer.LedgerRow) = Map("name" -> r.name, "calls" -> r.calls,
            "wall_s" -> r.wallS, "plan_s" -> r.planS, "job_s" -> r.jobS, "driver_s" -> r.driverS,
            "jobs" -> r.jobs, "stages" -> r.stages, "tasks" -> r.tasks, "task_s" -> r.taskS,
            "cores_busy" -> r.coresBusy, "shuffle_bytes" -> r.shuffleBytes,
            "spill_bytes" -> r.spillBytes, "gc_s" -> r.gcS)
          println("GRAFTBENCH_LEDGER " + json.writeValueAsString(Map(
            "spans" -> ledger.rows.map(row),
            "tagged" -> ledger.tagged.map(row),
            "total_jobs" -> ledger.totalJobs,
            "traced_pass_ms" -> run.passesMs(ht),
            "untraced_pass_ms" -> passes,
            "span_log" -> ledger.spans.map(s => Map("id" -> s.id, "name" -> s.name, "tag" -> s.tag,
              "parent" -> s.parent, "run" -> s.runId, "start_ms" -> s.start, "end_ms" -> s.end)))))
        case _ =>
      }

      val all = h +: ht.toSeq
      val result = Map(
        "attempted" -> all.map(_.attempted).sum,
        "failed" -> all.map(_.failed).sum,
        "errors" -> all.flatMap(_.errors),
        "setup_s" -> (if (setup.isEmpty) None else Some(Stats.median(setup))),
        "setup_runs_s" -> setup,
        "setup_cold_s" -> coldSetupS,
        "warmup_s" -> warmUpS,
        "pass_ms" -> Stats.median(passes),
        "passes" -> passes.size,
        "pass_runs_ms" -> passes,
        "pass_tail" -> Stats.tail(passes).map(t => Map("percentile" -> t.name, "ms" -> t.value)),
        "peak_live_heap_mb" -> run.peakHeapMb,
        "detail" -> w.detail(h),
        "per_layer" -> layer,
        // where the run's time went, for fitting runs into a time budget
        "phase_s" -> Map("jvm_and_session" -> sessionS, "loop" -> loopS))
      println("GRAFTBENCH_RESULT " + json.writeValueAsString(result))
    } finally spark.stop()
  }
}

/** Loads the classes a run loads before its timed steps, for the
  * class-data sharing archive `run.py` writes when it builds: sets up and
  * warms up every workload once, measuring nothing.
  *
  *   Train --work <dir>
  */
object Train {

  def main(args: Array[String]): Unit = {
    val work = args(args.indexOf("--work") + 1)
    val spark = GraftSession.local(Runtime.getRuntime.availableProcessors)
    try {
      Seq("bulk_replicate", "registry_sf01").foreach { name =>
        val w = Main.workload(Main.Opts(name, 0L, 0.0, trace = false, work), spark)
        w.setup()
        w.warmUp(new Harness(None))
      }
      println("GRAFTBENCH_TRAIN {}")
    } finally spark.stop()
  }
}
