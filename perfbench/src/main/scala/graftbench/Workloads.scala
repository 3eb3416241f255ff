package graftbench

import java.nio.file.Paths

import scala.collection.mutable
import scala.util.Try

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._

import graft.core.{ReplicationFilter, TableRules}
import graft.jsonb.JsonbIngestJob
import graft.sinks.{BucketedMergeTarget, CopyLoader}
import graft.snapshot.SnapshotJob
import graft.streaming.{StoreFollower, SyncCycle, SyncStateStore}

/** One workload: set-up (inputs generated), one untimed warm-up, more
  * set-ups (each must leave what the warm-up wrote intact), then passes
  * in a closed loop (the next call starts when the previous one returns),
  * each checking its outputs. `pass` returns the pass's wall time: the
  * sum of its timed calls. */
trait Workload {
  def setup(): Unit
  def warmUp(h: Harness): Unit
  def pass(h: Harness): Double
  /** Workload-specific measurements, printed with the result. */
  def detail(h: Harness): Map[String, Any]
  /** Counters observed from outside the program, for the traced run. */
  def counters: Map[String, Double]
}

object Workloads {
  val Database = "benchdb"

  def latency(h: Harness, key: String): Map[String, Any] = {
    val xs = h.samplesOf(key)
    if (xs.isEmpty) Map("samples" -> 0)
    else Map("p50_ms" -> Stats.median(xs), "samples" -> xs.size) ++
      Stats.tail(xs).map(t => Map("tail_ms" -> t.value, "tail_percentile" -> t.name))
        .getOrElse(Map("tail_ms" -> null, "tail_percentile" -> null))
  }

  /** Store bytes ÷ bytes of its live rows written once as plain parquet. */
  def spaceAmp(spark: SparkSession, store: String, scratch: String): Double = {
    BucketedMergeTarget.read(spark, store).write.mode("overwrite").parquet(scratch)
    val plain = Model.bytesUnder(scratch)
    Model.deleteTree(scratch)
    Model.bytesUnder(store).toDouble / math.max(1L, plain)
  }

  /** Buckets whose owning version dir differs between two manifests. */
  def changedBuckets(before: Option[BucketedMergeTarget.Manifest],
                     after: BucketedMergeTarget.Manifest): Set[Int] = {
    val prev = before.map(_.buckets).getOrElse(Map.empty[Int, String])
    after.buckets.collect { case (b, d) if !prev.get(b).contains(d) => b }.toSet ++
      (prev.keySet -- after.buckets.keySet)
  }

  /** Version directories and data files currently under a store. */
  def storeShape(store: String): (Int, Int) = {
    val dirs = Option(new java.io.File(store).listFiles).toSeq.flatten
      .count(f => f.isDirectory && f.getName.startsWith("_v"))
    (dirs, Model.dataFiles(store))
  }

  /** Parquet files the executed plan of `df` read. */
  def filesScanned(df: DataFrame): Long = {
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.finalPhysicalPlan
      case p => p
    }
    plan.collect { case s: FileSourceScanExec => s.metrics.get("numFiles").map(_.value).getOrElse(0L) }.sum
  }
}

/** Per-commit store counters, read from the manifests around each commit. */
final class StoreCounters {
  var commits = 0L
  var bucketsRewritten = 0L
  var rowsRewritten = 0L
  var changeRows = 0L
  var bytesWritten = 0L

  def record(spark: SparkSession, store: String, before: Option[BucketedMergeTarget.Manifest],
             changes: Long): Unit =
    BucketedMergeTarget.currentManifest(spark, store).foreach { after =>
      if (before.forall(_.version < after.version)) {
        val changed = Workloads.changedBuckets(before, after)
        commits += after.version - before.map(_.version).getOrElse(0L)
        bucketsRewritten += changed.size
        rowsRewritten += changed.toSeq.map(b => after.rowCounts.getOrElse(b, 0L)).sum
        changeRows += changes
        bytesWritten += after.buckets.filter { case (b, _) => changed.contains(b) }.values.toSeq
          .distinct.map(d => Model.bytesUnder(s"$store/$d")).sum
      }
    }

  def reset(): Unit = {
    commits = 0; bucketsRewritten = 0; rowsRewritten = 0; changeRows = 0; bytesWritten = 0
  }

  /** `passes`: the checked passes the counts cover. */
  def toMap(passes: Long): Map[String, Double] = Map(
    "sinks.store.commits" -> (if (passes == 0) 0.0 else commits.toDouble / passes),
    "sinks.store.buckets_rewritten" -> (if (commits == 0) 0.0 else bucketsRewritten.toDouble / commits),
    "sinks.store.rows_rewritten_per_change" ->
      (if (changeRows == 0) 0.0 else rowsRewritten.toDouble / changeRows),
    "sinks.store.bytes_written" -> (if (commits == 0) 0.0 else bytesWritten.toDouble / commits))
}

/** Snapshot → JSONB ingestion → large-batch catch-up → follower mirror →
  * replica point lookups → verify, from a fresh target each pass. */
final class BulkReplicate(spark: SparkSession, seed: Long, work: String, sf: Double,
                          lookups: Int) extends Workload {
  import Workloads._

  private val src = s"$work/bulk/src"
  private val rules = Gen.rules(seed)
  private val r = Gen.rng(seed, "bulk")
  private val (excluded, schemaOnly) = if (r.nextInt(2) == 0) ("nation", "region") else ("region", "nation")
  private val SourceTables = Seq("region", "nation", "customer", "orders", "lineitem", "events")
  private val Batches = 3
  private val sizes = Gen.sizes(sf)
  private val newOrders = sizes.orders / 100 + 1
  private var eventsEnd = 0L
  private var passNo = 0
  private var checkedPasses = 0L
  private val store = new StoreCounters
  private val copy = Seq("rows", "bytes", "chunks")
    .map(k => k -> spark.sparkContext.longAccumulator(s"copy.$k")).toMap
  private val copyApi = new Model.CountingCopyApi(copy("rows"), copy("bytes"), copy("chunks"))
  private var ingestCalls = 0L
  private var keptRatio = 0.0
  private var followReplaced = 0L
  private var follows = 0L
  private var lookupFiles = 0L
  private var lookupCount = 0L
  private var storeShapes = (0, 0)
  private val perPass = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private def note(k: String, v: Double): Unit =
    perPass.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += v

  /** Lineitem as the source holds it after change batch `j` (0 = base). */
  private def version(j: Int) =
    if (j == 0) s"$src/lineitem.parquet" else s"$work/bulk/lineitem_v$j.parquet"

  def setup(): Unit = {
    Model.deleteTree(s"$work/bulk")
    eventsEnd = System.currentTimeMillis() * 1000L
    Gen.writeDatabase(spark, seed, sizes, src, eventsEnd, SourceTables, maxVersion = Some(1000L))
    (1 to Batches).foreach { j =>
      Gen.nextLineitemState(spark.read.parquet(version(j - 1)), seed, j, 1000L + j,
        sizes.orders + (j - 1) * newOrders, newOrders, sizes.part, sizes.supplier,
        updatePermille = 80, deletePermille = 10)
        .write.mode("overwrite").parquet(version(j))
    }
  }

  /** One short unchecked pass through every call, so class loading, JIT
    * and codegen are done before timing. */
  def warmUp(h: Harness): Unit = {
    runPass(new Harness(None), checks = false)
    perPass.clear()
    store.reset()
    copy.values.foreach(_.reset())
    ingestCalls = 0; followReplaced = 0; follows = 0; lookupFiles = 0; lookupCount = 0
    checkedPasses = 0
  }

  def pass(h: Harness): Double = runPass(h, checks = true)

  /** The benchmark's own model of each snapshot target. */
  private def expectedTarget(table: String, source: DataFrame): DataFrame = table match {
    case t if t == schemaOnly => source.limit(0)
    case "lineitem" => source.filter(col("l_quantity") >= rules.quantityFloor)
    case "events" =>
      source.filter(col("ts") > timestamp_micros(lit(eventsEnd - rules.windowDays * 86400L * 1000000L)))
    case _ => source
  }

  /** A pass; unchecked (warm-up) passes copy three tables, ingest one,
    * apply only the last change batch and look up one key. */
  private def runPass(h: Harness, checks: Boolean): Double = {
    passNo += 1
    if (checks) checkedPasses += 1
    val out = s"$work/bulk/pass$passNo"
    val target = s"$out/target"
    val storeDir = s"$out/store"
    val replicaDir = s"$out/replica"
    var wall = 0.0
    def timed[T](span: String, tag: String = "")(f: => T): (Option[T], Double) = {
      val t0 = System.nanoTime()
      val res = h.call(span, tag)(f)
      val s = (System.nanoTime() - t0) / 1e9
      wall += s
      (res, s)
    }
    def table(dir: String, t: String) = spark.read.parquet(s"$dir/$t.parquet")

    // 1. snapshot, with a table filter and per-table rules
    val tableRules = TableRules(schemaOnly = Set(s"$Database.$schemaOnly"))
      .addTableFilter(s"$Database.lineitem", rules.lineitemPredicate)
      .flatMap(_.addTimeFilter(s"$Database.events", "ts", rules.window))
      .fold(e => throw new IllegalArgumentException(e), identity)
    val (report, snapS) = timed("snapshot.run") {
      SnapshotJob.run(spark, Database, src, target,
        if (checks) ReplicationFilter(excludeTables = Set(s"$Database.$excluded"))
        else ReplicationFilter(includeTables = Set("lineitem", "events", schemaOnly).map(t => s"$Database.$t")),
        tableRules,
        checkpointPath = Some(Paths.get(s"$out/checkpoint.json")), verify = true)
    }
    val copied = report.map(_.copied).getOrElse(Nil)
    // per copied table: (source rows, rows the model keeps)
    lazy val counts = h.own(copied.map { t =>
      val s = table(src, t)
      t -> (s.count(), expectedTarget(t, s).count())
    }.toMap)
    if (checks) report.foreach { rep =>
      val rows = rep.tables.map(_.rows).sum
      note("snapshot_rows_per_s", rows / snapS)
      h.own {
        keptRatio = rows.toDouble / math.max(1L, counts.values.map(_._1).sum)
        h.check("snapshot.tables") {
          copied.toSet == SourceTables.toSet - excluded &&
            !new java.io.File(s"$target/$excluded.parquet").exists()
        }
        val same = Try(Model.sameRowsEach(copied.map(t =>
          (t, expectedTarget(t, table(src, t)), table(target, t)))))
        copied.foreach(t => h.check(s"snapshot.$t")(same.get(t)))
      }
    }

    // 2. JSONB ingestion into the counting COPY sink
    Seq("orders" -> Some("o_orderkey"), "customer" -> None).take(if (checks) 2 else 1).foreach { case (t, pk) =>
      val before = copy.map { case (k, a) => k -> a.value.longValue }
      val (ok, s) = timed("jsonb.ingest", t) {
        val (docs, _) = JsonbIngestJob.toDocuments(table(src, t), pk, "sqlite")
        CopyLoader.copyJsonbModel(docs, t, () => Model.nullConnection(), copyApi)
      }
      if (ok.isDefined && checks) {
        ingestCalls += 1
        val rows = copy("rows").value - before("rows")
        note("ingest_rows_per_s", rows / s)
        h.own(h.check(s"jsonb.$t") {
          val (docs, _) = JsonbIngestJob.toDocuments(table(src, t), pk, "sqlite")
          rows == table(src, t).count() &&
            copy("bytes").value - before("bytes") == Model.copyBytes(docs)
        })
      }
    }

    // 3. sync: seed the store, then the large change batches, reconciling
    //    deletes on the last
    val state = new SyncStateStore(Paths.get(s"$out/sync_state.json"))
    def cycle(j: Int, tag: String): (Long, Double) = {
      val before = BucketedMergeTarget.currentManifest(spark, storeDir)
      val (res, s) = timed("streaming.run_loop", tag) {
        SyncCycle.runLoop(() => spark.read.parquet(version(j)), storeDir, "public", "lineitem",
          Gen.VersionCol, Gen.LineitemPk, state, cycles = 1,
          reconcileEvery = if (tag == "reconcile") 1 else Int.MaxValue)
      }
      val changes = res.map(_.map(_.changes).sum).getOrElse(0L)
      if (checks && j > 0) store.record(spark, storeDir, before, changes)
      (changes, s)
    }
    cycle(0, "seed")
    val catchup = (if (checks) 1 to Batches else Seq(Batches))
      .map(j => cycle(j, if (j == Batches) "reconcile" else "catchup"))
    val latest = spark.read.parquet(version(Batches))
    if (checks) {
      note("catchup_rows_per_s", catchup.map(_._1).sum / catchup.map(_._2).sum)
      h.own {
        h.check("sync.store")(Model.sameRows(latest, BucketedMergeTarget.read(spark, storeDir)))
        note("store_space_amp", spaceAmp(spark, storeDir, s"$out/plain"))
        storeShapes = storeShape(storeDir)
      }
    }

    // 4. mirror the store, then point lookups on the mirror
    val (_, followS) = timed("streaming.follow") {
      StoreFollower.replicate(spark, storeDir, replicaDir)
    }
    if (checks) {
      note("follow_s", followS)
      BucketedMergeTarget.currentManifest(spark, replicaDir).foreach { m =>
        follows += 1
        followReplaced += m.buckets.size
      }
      h.own(h.check("follow.replica")(Model.sameRows(latest, BucketedMergeTarget.read(spark, replicaDir))))
    }
    val probe = Gen.lookupKeys(seed, passNo, if (checks) lookups else 1, sizes.orders + Batches * newOrders)
    val found = probe.map { case (o, l) =>
      timed("sources.store_lookup") {
        val df = spark.read.format("graft-store").load(replicaDir)
          .filter(col("l_orderkey") === o && col("l_linenumber") === l)
        val rows = df.collect().toSeq
        if (checks) { lookupFiles += filesScanned(df); lookupCount += 1 }
        rows
      }._1
    }
    if (checks) h.own(h.check("lookup") {
      val expected = latest.filter(probe.map { case (o, l) =>
        col("l_orderkey") === o && col("l_linenumber") === l }.reduce(_ || _)).collect()
        .map(r => (r.getAs[Long]("l_orderkey"), r.getAs[Int]("l_linenumber")) -> r).toMap
      probe.zip(found).forall {
        case (k, Some(rows)) => expected.get(k) match {
          case Some(e) =>
            val names = e.schema.fieldNames.toSeq
            rows.size == 1 && rows.head.getValuesMap[Any](names) == e.getValuesMap[Any](names)
          case None => rows.isEmpty
        }
        case (_, None) => true // the failed call is already counted
      }
    })

    // 5. verify every copied table; a table a rule filtered must differ
    val (verdicts, verifyS) = timed("snapshot.verify_dirs") {
      SnapshotJob.verifyDirs(spark, src, target, copied)
    }
    if (checks) {
      note("verify_s", verifyS)
      verdicts.foreach { v =>
        h.own(h.check("verify.verdicts") {
          v.keySet == copied.toSet && copied.forall(t => v(t) == (counts(t)._1 == counts(t)._2))
        })
      }
    }
    Model.deleteTree(out)
    wall * 1000.0
  }

  /** The input property a bucket-layout change depends on: the share of
    * change batches whose changed keys (rewritten, new or deleted) fall
    * into every store bucket. */
  private def batchesTouchingEveryBucket: Double = {
    val key = Gen.LineitemPk.map(col)
    (1 to Batches).count { j =>
      val next = spark.read.parquet(version(j))
      val deleted = spark.read.parquet(version(j - 1)).select(key: _*).except(next.select(key: _*))
      next.filter(col(Gen.VersionCol) === 1000L + j).select(key: _*).unionByName(deleted)
        .select(pmod(hash(key: _*), lit(BucketedMergeTarget.DefaultBuckets))).distinct()
        .count() == BucketedMergeTarget.DefaultBuckets
    }.toDouble / Batches
  }

  def detail(h: Harness): Map[String, Any] =
    perPass.map { case (k, xs) => k -> Stats.median(xs.toSeq) }.toMap ++ Map(
      "run_loop_catchup" -> latency(h, "streaming.run_loop:catchup"),
      "run_loop_reconcile" -> latency(h, "streaming.run_loop:reconcile"),
      "lookup" -> latency(h, "sources.store_lookup"),
      "batches_touching_every_bucket" -> batchesTouchingEveryBucket,
      "sizes" -> Map("lineitem_rows" -> sizes.lineitem, "orders_rows" -> sizes.orders,
        "customer_rows" -> sizes.customer, "events_rows" -> sizes.events,
        "change_batch_new_orders" -> newOrders, "source_bytes" -> Model.bytesUnder(src),
        "store_buckets" -> BucketedMergeTarget.DefaultBuckets, "lookups_per_pass" -> lookups),
      "excluded_table" -> excluded, "schema_only_table" -> schemaOnly,
      "lineitem_predicate" -> rules.lineitemPredicate, "events_window" -> rules.window)

  def counters: Map[String, Double] = {
    def per(x: Double, n: Long) = if (n == 0) 0.0 else x / n
    store.toMap(checkedPasses) ++ Map(
      "sinks.store.version_dirs" -> storeShapes._1.toDouble,
      "sinks.store.files" -> storeShapes._2.toDouble,
      "streaming.follow.buckets_replaced" -> per(followReplaced.toDouble, follows),
      "sources.store_lookup.files_scanned" -> per(lookupFiles.toDouble, lookupCount),
      "sinks.copy.bytes" -> per(copy("bytes").value.toDouble, ingestCalls),
      "sinks.copy.chunks" -> per(copy("chunks").value.toDouble, ingestCalls),
      "snapshot.rows_kept_ratio" -> keptRatio)
  }
}

/** A fixed set of registry queries, each fully materialised into the
  * `noop` sink from a cleared session, in a seeded order. */
final class Registry(spark: SparkSession, seed: Long, work: String, sf: Double,
                     queries: Seq[String]) extends Workload {
  private val root = s"$work/registry"
  val tablesDir = s"$root/main"
  private val order = Gen.permute(seed, queries)
  /** Fixed, so every set-up writes the same tables the oracle results of
    * the warm-up were computed from. */
  private val eventsEnd = 1706659200L * 1000000L // 2024-01-31 00:00 UTC

  def clearSessionState(): Unit = {
    graft.QueriesPipeline.invalidateLshCache()
    graft.QueriesPipeline.invalidateAnnExactCache()
    graft.core.SliverCache.clear()
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  def setup(): Unit = {
    Model.deleteTree(tablesDir)
    Gen.writeDatabase(spark, seed, Gen.sizes(sf), tablesDir, eventsEnd)
  }

  /** The warm-up pass writes every result with an oracle query as
    * parquet, for the DuckDB comparison after the run; the others go to
    * the `noop` sink. */
  def warmUp(h: Harness): Unit = {
    val sqls = graft.SparkEntry.oracleSql
    order.foreach { q =>
      clearSessionState()
      h.check(s"oracle.dump.$q") {
        val df = graft.SparkEntry.queries(q)(spark, tablesDir)
        if (sqls.contains(q)) df.write.mode("overwrite").parquet(s"$root/oracle/$q")
        else df.write.format("noop").mode("overwrite").save()
        true
      }
    }
    java.nio.file.Files.createDirectories(Paths.get(s"$root/oracle"))
    Main.json.writeValue(new java.io.File(s"$root/oracle/oracle_sql.json"),
      order.filter(sqls.contains).map(q => q -> sqls(q)).toMap)
  }

  /** Run query `q` on the tables under `d`, fully materialised. */
  def run(q: String, d: String): Unit =
    graft.SparkEntry.queries(q)(spark, d).write.format("noop").mode("overwrite").save()

  def pass(h: Harness): Double = {
    val total = order.map { q =>
      clearSessionState()
      val t0 = System.nanoTime()
      h.call("registry.query", q)(run(q, tablesDir))
      (System.nanoTime() - t0) / 1e6
    }.sum
    clearSessionState()
    total
  }

  def detail(h: Harness): Map[String, Any] = {
    val perQuery = order.map(q => q -> Stats.median(h.samplesOf(h.key("registry.query", q)))).toMap
    Map(
      "registry_total_s" -> perQuery.values.sum / 1000.0,
      "per_query_ms" -> perQuery,
      "order" -> order,
      "sizes" -> Map("lineitem_rows" -> Gen.sizes(sf).lineitem,
        "documents_rows" -> Gen.sizes(sf).documents, "queries" -> queries.size,
        "source_bytes" -> Model.bytesUnder(tablesDir)))
  }

  def counters: Map[String, Double] = Map.empty
}
