package graftbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.sources.ObjectIndex

/** The named workloads. Each is a closed loop of one client: the next
  * operation starts when the previous one has returned. */
object Workloads {
  val CatalogMix: Seq[String] = Seq(
    "q01_pricing_summary", "q03_topk_revenue", "q05_regional_join",
    "q_large_orders", "q_waiting_suppliers", "q_nation_trade",
    "q_cone_search", "q_box_search", "q_poly_search", "q_ellipse_search",
    "q_cone_search_many", "q_spatial_density", "q_galactic_density",
    "q_radial_profile", "q_lightcurve_stats", "q_lightcurve_band",
    "q_object_lookup", "q_object_lookup_many", "q_zone_xmatch", "q_ntile",
    "q_percent_rank", "q_window_topn", "q_bls", "q_lomb_scargle")

  val PipelineIterative: Seq[String] = Seq(
    "q_fof_groups", "q_pagerank", "q_nearest_nbr", "q_knn3",
    "q_dedup_clusters", "q_blob_clusters", "q_triangles", "q_tracklets",
    "q_track_chains", "q_ann_ivfpq", "q_ann_pq", "q_dedup_minhash",
    "q_winnow_fingerprint", "q_two_point_corr")

  /** Registered queries over the stored tables; a traced run times
    * their cold first call and one warm call (the `sources` layer). */
  val Stored: Seq[String] = Seq(
    "q_lightcurve_band_stored", "q_xmatch_stored", "q_assoc_delta")

  val Names: Seq[String] = Seq("catalog_mix", "pipeline_iterative")

  def queriesOf(workload: String): Seq[String] = workload match {
    case "catalog_mix" => CatalogMix
    case "pipeline_iterative" => PipelineIterative
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (known: ${Names.mkString(", ")})")
  }

  val AllQueries: Seq[String] = (CatalogMix ++ PipelineIterative ++ Stored).distinct

  /** Every op name must be a registered query with a DuckDB twin. */
  def validate(): Unit = {
    val unknown = AllQueries.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty,
      s"workload names not in SparkEntry.queries: ${unknown.mkString(", ")}")
    val noOracle = AllQueries.filterNot(SparkEntry.oracleSql.contains)
    require(noOracle.isEmpty,
      s"workload queries without an oracle twin: ${noOracle.mkString(", ")}")
  }
}

/** The benchmark's Spark configuration, in one place. */
object BenchConfig {
  val Cores: Int = math.min(4, Runtime.getRuntime.availableProcessors())
  /** Set-up repetitions per run; `setup_s` is their median. */
  val SetupReps = 3
  /** Queries the warm-up runs at once. */
  val WarmupThreads = 3
  // the sources probe's store round
  val LookupsPerRound = 20
  val LookupManyPerRound = 5
  val LookupManyIds = 50
  val AppendsPerRound = 4
  val AppendRows = 2000

  def spark(warehouse: String, localDir: String): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$Cores]",
    "spark.app.name" -> "graft-perfbench",
    "spark.sql.shuffle.partitions" -> Cores.toString,
    "spark.sql.extensions" -> "graft.GraftExtensions",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.files.maxPartitionBytes" -> "1m",
    "spark.sql.files.openCostInBytes" -> "64k",
    "spark.ui.enabled" -> "false",
    "spark.sql.warehouse.dir" -> warehouse,
    "spark.local.dir" -> localDir)
}

/** One timed operation; `pass` is [[Run.NotAPass]] outside the passes. */
final case class Sample(id: String, op: String, kind: String, pass: Int,
  buildS: Double, execS: Double, ok: Boolean, note: String) {
  def latencyS: Double = buildS + execS
}

object Run {
  val NotAPass: Int = -1
}

final class Run(workload: String, seed: Long, seconds: Double, traced: Boolean,
  dataDir: String, oracleDir: String, runDir: Path) {
  import BenchConfig._
  import Run.NotAPass

  private val epochMs = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  private def nowMs: Double = epochMs + (System.nanoTime() - nano0) / 1e6

  var spark: SparkSession = _
  private val samples = mutable.ArrayBuffer[Sample]()
  private val tracer = new Tracer
  private val ledger = new JobLedger
  private val pins = mutable.HashMap[String, (Int, Double)]()
  private val filesPerBucket = mutable.ArrayBuffer[Double]()
  private var returnedRows = 0L
  private var opCounter = 0
  private val layer = mutable.LinkedHashMap[String, (Double, String)]()
  private val diag = mutable.LinkedHashMap[String, String]()

  private lazy val expected: Map[String, Fingerprint] =
    Files.readAllLines(Paths.get(oracleDir, "fingerprints.tsv")).asScala
      .filter(_.nonEmpty).map(Fingerprint.parse).toMap

  // ---------------------------------------------------------------- session

  private def startSession(rep: Int): Double = {
    if (spark != null) {
      spark.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }
    val repDir = runDir.resolve(s"rep$rep")
    Files.createDirectories(repDir.resolve("tmp"))
    // stored tables and engine caches live under the warehouse and the
    // JVM temp dir: both fresh per set-up, so every set-up is cold
    System.setProperty("java.io.tmpdir", repDir.resolve("tmp").toString)
    val t0 = System.nanoTime()
    val b = SparkSession.builder()
    BenchConfig.spark(repDir.resolve("warehouse").toString,
      repDir.resolve("spark-local").toString).foreach { case (k, v) => b.config(k, v) }
    spark = b.getOrCreate()
    val s = (System.nanoTime() - t0) / 1e9
    spark.sparkContext.setLogLevel("WARN")
    if (traced) spark.sparkContext.addSparkListener(ledger)
    s
  }

  // ------------------------------------------------------------- operations

  private def persistentIds: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Time `build` then `execute`, check the outcome untimed, and release
    * every RDD the op pinned plus the cache manager's entries. */
  private def timed(op: String, kind: String, pass: Int)(build: () => DataFrame)
      (execute: DataFrame => Unit)(check: DataFrame => Option[String]): Sample = {
    opCounter += 1
    val opId = s"$opCounter:$op"
    val sc = spark.sparkContext
    val before = persistentIds
    val t0 = nowMs
    var t1 = t0
    var t2 = t0
    val sample = try {
      if (traced) sc.setJobGroup(opId, "build")
      val df = build()
      t1 = nowMs
      if (traced) sc.setJobGroup(opId, "execute")
      execute(df)
      t2 = nowMs
      if (traced) sc.clearJobGroup()
      val bad = check(df)
      Sample(opId, op, kind, pass, (t1 - t0) / 1000, (t2 - t1) / 1000, bad.isEmpty,
        bad.getOrElse(""))
    } catch {
      case NonFatal(e) =>
        t2 = nowMs
        Sample(opId, op, kind, pass, (t1 - t0) / 1000, (t2 - t1) / 1000, ok = false,
          describe(e))
    } finally if (traced) sc.clearJobGroup()
    val added = sc.getPersistentRDDs.filter { case (id, _) => !before.contains(id) }
    if (traced) {
      val sizes = sc.getRDDStorageInfo.filter(i => added.contains(i.id))
        .map(i => i.memSize + i.diskSize).sum
      pins(opId) = (added.size, sizes / 1e6)
      val root = tracer.add(0, opId, "op", t0, t2)
      tracer.add(root, opId, "build", t0, t1)
      tracer.add(root, opId, "execute", t1, t2)
    }
    release(before)
    if (!sample.ok) System.err.println(s"[perfbench] FAILED $op: ${sample.note}")
    samples += sample
    sample
  }

  private def describe(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"

  private def noopWithFingerprint(df: DataFrame, obs: Observation): Unit =
    Fingerprint.observe(df, obs).write.format("noop").mode("overwrite").save()

  /** Why a query's observed result is not its DuckDB twin's, if it is not. */
  private def oracleMismatch(name: String, df: DataFrame, obs: Observation): Option[String] = {
    val got = Fingerprint.observed(df, obs)
    expected.get(name) match {
      case Some(want) if want == got => None
      case Some(want) => Some(s"result $got differs from oracle $want")
      case None => Some("no oracle fingerprint")
    }
  }

  /** A registered query: build is the registry call, execute the noop
    * write; the result must fingerprint equal to its DuckDB twin's. */
  private def query(name: String, pass: Int, kind: String = "query"): Sample = {
    val obs = Observation(s"fp$opCounter")
    timed(name, kind, pass)(() => SparkEntry.queries(name)(spark, dataDir))(
      df => noopWithFingerprint(df, obs))(oracleMismatch(name, _, obs))
  }

  /** Untimed, checked warm-up: every query of the pass once,
    * [[WarmupThreads]] at a time, so JIT-compiled and generated code are
    * warm when timing starts. Returns its seconds. */
  private def warmUp(queries: Seq[String]): Double = {
    val t0 = System.nanoTime()
    val before = persistentIds
    val pool = java.util.concurrent.Executors.newFixedThreadPool(WarmupThreads)
    try {
      queries.map { name =>
        pool.submit(new Runnable {
          def run(): Unit = {
            val obs = Observation(s"warmup-$name")
            val note = try {
              val df = SparkEntry.queries(name)(spark, dataDir)
              noopWithFingerprint(df, obs)
              oracleMismatch(name, df, obs).getOrElse("")
            } catch { case NonFatal(e) => describe(e) }
            samples.synchronized {
              samples += Sample(s"warmup:$name", name, "warmup", NotAPass, 0, 0, note.isEmpty, note)
            }
          }
        })
      }.foreach(_.get())
    } finally pool.shutdown()
    release(before)
    (System.nanoTime() - t0) / 1e9
  }

  /** Unpersist every RDD pinned since `before`, then drop the cache
    * manager's entries, so no later op reads a stale cached relation. */
  private def release(before: Set[Int]): Unit = {
    spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!before.contains(id)) rdd.unpersist(blocking = true)
    }
    spark.catalog.clearCache()
  }

  // ----------------------------------------------------- director index ops

  private lazy val baseCounts: Map[Long, Long] =
    spark.read.parquet(s"$oracleDir/event_counts.parquet").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
  /** (event_id, user_id) of the base events in id order, for slicing. */
  private lazy val eventKeys: Array[(Long, Option[Long])] =
    graft.Tables.events(spark, dataDir).select("event_id", "user_id")
      .orderBy("event_id").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getLong(1))))

  private final class IndexState(val path: String) {
    val appended = mutable.HashMap[Long, Long]().withDefaultValue(0L)
    var appendedRows = 0L
    def expect(id: Long): Long = baseCounts.getOrElse(id, 0L) + appended(id)
  }
  private var appendSerial = 0L

  private def bucketFiles(path: String, id: Long): Int = {
    val b = Paths.get(path, s"obkt=${Math.floorMod(id, ObjectIndex.DefaultBuckets.toLong)}")
    if (!Files.exists(b)) 0
    else Files.walk(b).iterator().asScala
      .count(p => p.getFileName.toString.endsWith(".parquet"))
  }

  private def lookup(st: IndexState, id: Long): Sample = {
    if (traced) filesPerBucket += bucketFiles(st.path, id)
    val obs = Observation(s"fp$opCounter")
    timed("lookup", "lookup", NotAPass)(() => ObjectIndex.lookup(spark, st.path, id))(
      df => noopWithFingerprint(df, obs)) { df =>
      val n = Fingerprint.observed(df, obs).rows
      returnedRows += n
      if (n == st.expect(id)) None else Some(s"object $id: $n rows, expected ${st.expect(id)}")
    }
  }

  private def lookupMany(st: IndexState, ids: Seq[Long]): Sample = {
    val obs = Observation(s"fp$opCounter")
    timed("lookup_many", "lookup_many", NotAPass)(() => ObjectIndex.lookupMany(spark, st.path, ids))(
      df => noopWithFingerprint(df, obs)) { df =>
      val n = Fingerprint.observed(df, obs).rows
      returnedRows += n
      val want = ids.distinct.map(st.expect).sum
      if (n == want) None else Some(s"${ids.size} objects: $n rows, expected $want")
    }
  }

  /** Append a re-keyed slice of the base events (fresh event ids, same
    * objects), so every later lookup of those objects must see it. */
  private def append(st: IndexState, rnd: Random): Sample = {
    val from = rnd.nextInt(math.max(1, eventKeys.length - AppendRows))
    val slice = eventKeys.slice(from, from + AppendRows)
    appendSerial += 1
    val rekey = appendSerial << 40
    val (lo, hi) = (slice.head._1, slice.last._1)
    val s = timed("append", "append", NotAPass) { () =>
      graft.Tables.events(spark, dataDir)
        .filter(col("event_id").between(lo, hi))
        .withColumn("event_id", col("event_id") + lit(rekey))
    }(delta => ObjectIndex.append(spark, delta, st.path))(_ => None)
    if (s.ok) slice.flatMap(_._2).foreach { u =>
      st.appended(u) += 1; st.appendedRows += 1
    }
    s
  }

  private def compact(st: IndexState): Sample =
    timed("compact", "compact", NotAPass)(() => spark.emptyDataFrame)(
      _ => ObjectIndex.compactIndex(spark, st.path)) { _ =>
      val n = spark.read.parquet(st.path).count()
      val want = baseCounts.values.sum + st.appendedRows
      if (n == want) None else Some(s"index holds $n rows after compaction, expected $want")
    }

  private def dirBytes(p: String): Long =
    Files.walk(Paths.get(p)).iterator().asScala.filter(Files.isRegularFile(_))
      .filter(f => !f.getFileName.toString.startsWith(".")).map(Files.size).sum

  /** One store round on the index: lookups, batched lookups and appends
    * in seeded order, one compaction, then one warm run of each stored
    * query. Returns the index's bytes on disk after the compaction. */
  private def storeRound(st: IndexState, rnd: Random): Long = {
    val users = baseCounts.keys.toIndexedSeq.sorted
    val ops: Seq[() => Unit] =
      Seq.fill(LookupsPerRound) {
        val id = users(rnd.nextInt(users.size)); () => { lookup(st, id); () }
      } ++ Seq.fill(LookupManyPerRound) {
        val ids = rnd.shuffle(users).take(LookupManyIds); () => { lookupMany(st, ids); () }
      } ++ Seq.fill(AppendsPerRound) {
        val r = new Random(rnd.nextLong()); () => { append(st, r); () }
      }
    rnd.shuffle(ops).foreach(_())
    compact(st)
    val bytes = dirBytes(st.path)
    rnd.shuffle(Workloads.Stored).foreach(query(_, NotAPass, "stored"))
    bytes
  }

  // -------------------------------------------------------------- the run

  def run(): Map[String, Any] = {
    Workloads.validate()
    val queries = Workloads.queriesOf(workload)
    val calibStart = PerfBench.calibrate()

    // set-up, repeated in fresh sessions; setup_s is the median
    val setups = (0 until SetupReps).map { rep =>
      val start = startSession(rep)
      val t0 = System.nanoTime()
      SparkEntry.registerTables(spark, dataDir)
      (start, (System.nanoTime() - t0) / 1e9)
    }
    val setupS = PerfBench.median(setups.map { case (a, b) => a + b })
    val fallbacks = CodegenFallbackCounter.attach()
    val warmupS = warmUp(queries)

    // full passes until `seconds` have elapsed
    val fallbacks0 = fallbacks.count.get()
    val steal0 = PerfBench.hostStealS()
    val loop0 = System.nanoTime()
    val loopStartMs = nowMs
    var passes = 0
    def pass(p: Int): Unit = new Random(seed * 7919 + p).shuffle(queries).foreach(query(_, p))
    while (passes == 0 || (System.nanoTime() - loop0) / 1e9 < seconds) {
      pass(passes)
      passes += 1
    }
    val loopS = (System.nanoTime() - loop0) / 1e9
    val loopEndMs = nowMs
    diag("host_steal_s") = (PerfBench.hostStealS() - steal0).toString
    val fallbackCount = fallbacks.count.get() - fallbacks0

    val measured = samples.filter(_.pass >= 0).toSeq
    val good = measured.filter(_.ok)
    val lat = good.map(_.latencyS).sorted
    val passTimes = (0 until passes).map(p => measured.filter(_.pass == p).map(_.latencyS).sum)
    val passS = PerfBench.median(passTimes)
    val e2e = Map[String, (Double, String)](
      "setup_s" -> (setupS, "s"),
      "pass_s" -> (passS, "s"),
      "ops_per_s" -> (good.size / loopS, "1/s"),
      "latency_p50_s" -> (PerfBench.median(lat), "s"))

    // reported, not bounded: one pass has too few samples for a tail
    // beyond its median, and peak RSS follows the collector's heap sizing
    val (tail, tailPct) = PerfBench.tail(lat)
    diag("latency_tail_s") = tail.toString
    diag("latency_tail_pct") = f"$tailPct%.1f"
    diag("latency_samples") = lat.size.toString
    diag("peak_rss_mb") = PerfBench.peakRssMb().toString
    diag("passes") = passes.toString
    diag("warmup_s") = warmupS.toString
    diag("loop_s") = loopS.toString
    diag("setup_reps_s") = setups.map { case (a, b) => a + b }.mkString("[", ",", "]")
    diag("op_median_s") = measured.groupBy(_.op).toSeq.sortBy(_._1).map { case (op, ss) =>
      s""""$op": ${PerfBench.median(ss.map(_.latencyS))}"""
    }.mkString("{", ", ", "}")

    if (traced) {
      layer("session.start_s") = (PerfBench.median(setups.map(_._1)), "s")
      layer("session.register_s") = (PerfBench.median(setups.map(_._2)), "s")
      layer("trace.pass_s") = (passS, "s")
      querySparkLayers(measured, passes, loopEndMs - loopStartMs, fallbackCount)
      layer("session.warmup_s") = (warmupS, "s")
      // layer probes, outside the measured loop
      sourcesProbe()
      Probes.functions(spark, dataDir).foreach { case (k, v) => layer(k) = (v, "rows/s") }
      Probes.operators(spark, dataDir).foreach { case (k, v) => layer(k) = (v, "s") }
      org.apache.spark.BenchAccess.drainListenerBus(spark.sparkContext)
      diag("trace_spans") = tracer.all.size.toString
    }

    diag("config") = (BenchConfig.spark("<run>/warehouse", "<run>/spark-local") ++ Seq(
      "cores" -> BenchConfig.Cores.toString,
      "heap_max_mb" -> (Runtime.getRuntime.maxMemory / (1 << 20)).toString))
      .map { case (k, v) => s"$k=$v" }.mkString("; ")
    diag("calib.cpu_s_start") = calibStart.toString
    diag("calib.cpu_s_end") = PerfBench.calibrate().toString
    val all = samples.toSeq
    diag("fail_frac") = (all.count(!_.ok).toDouble / all.size).toString
    val failures = all.filterNot(_.ok).map(s => s"${s.op}: ${s.note}").distinct.take(20)
    Map(
      "attempted" -> all.size, "failed" -> all.count(!_.ok),
      "failures" -> failures,
      "metrics" -> (if (traced) layer.toMap else e2e),
      "diagnostics" -> diag.toMap,
      "spans" -> (if (traced) spansWithJobs() else Seq.empty))
  }

  /** The `sources` layer: build the director index, the cold first call
    * of each stored query in this session, then one store round. */
  private def sourcesProbe(): Unit = {
    val base = runDir.resolve("index-base")
    val t0 = System.nanoTime()
    ObjectIndex.build(spark, dataDir, base.toString)
    val buildS = (System.nanoTime() - t0) / 1e9
    val coldS = Workloads.Stored.map(query(_, NotAPass, "cold").latencyS).sum
    val before = samples.size
    val st = new IndexState(base.toString)
    val indexBytes = storeRound(st, new Random(seed * 7919 + 5000))
    sourcesLayers(samples.drop(before).toSeq, st, indexBytes, buildS, coldS)
  }

  /** `queries` and `spark` layers of the measured ops, per pass. */
  private def querySparkLayers(measured: Seq[Sample], passes: Int, loopMs: Double,
      fallbackCount: Long): Unit = {
    org.apache.spark.BenchAccess.drainListenerBus(spark.sparkContext)
    val ops = measured.map(_.id).toSet
    val jobs = ops.toSeq.flatMap(ledger.jobsOf)
    val build = jobs.filter(_.phase == "build")
    val exec = jobs.filter(_.phase == "execute")
    val spans = tracer.all.filter(s => ops.contains(s.op))
    def phaseS(name: String) = spans.filter(_.name == name).map(_.durS).sum
    // self time: the phase span minus the part its Spark jobs cover
    def selfS(name: String, js: Seq[ledger.Job]) = spans.filter(_.name == name).map { s =>
      val mine = js.filter(_.op == s.op).map(j => (j.startMs.toDouble, j.endMs.toDouble))
      (s.endMs - s.startMs - Tracer.covered(mine, s.startMs, s.endMs)) / 1000
    }.sum
    val buildS = phaseS("build")
    val execS = phaseS("execute")
    val tt = ledger.totals(jobs)
    val p = passes.toDouble
    val mb = 1e6
    val pinned = ops.toSeq.flatMap(pins.get)
    layer("queries.build_s") = (buildS / p, "s")
    layer("queries.build_self_s") = (selfS("build", build) / p, "s")
    layer("queries.build_share") = (buildS / (buildS + execS), "ratio")
    layer("queries.jobs_build") = (build.size / p, "count")
    layer("queries.pins") = (pinned.map(_._1).sum / p, "count")
    layer("queries.pinned_mb") = (pinned.map(_._2).sum / p, "MB")
    layer("spark.exec_s") = (execS / p, "s")
    layer("spark.exec_self_s") = (selfS("execute", exec) / p, "s")
    layer("spark.jobs_exec") = (exec.size / p, "count")
    layer("spark.stages") = (tt.stages / p, "count")
    layer("spark.tasks") = (tt.tasks / p, "count")
    layer("spark.task_run_s") = (tt.runS / p, "s")
    layer("spark.task_cpu_s") = (tt.cpuS / p, "s")
    layer("spark.cpu_util") = (tt.cpuS / (loopMs / 1000 * BenchConfig.Cores), "ratio")
    layer("spark.sched_wait_s") = (tt.schedWaitS / p, "s")
    layer("spark.gc_s") = (tt.gcS / p, "s")
    layer("spark.shuffle_read_mb") = (tt.shuffleReadB / mb / p, "MB")
    layer("spark.shuffle_write_mb") = (tt.shuffleWriteB / mb / p, "MB")
    layer("spark.spill_mb") = (tt.spillB / mb / p, "MB")
    layer("spark.peak_exec_mem_mb") = (tt.peakMemB / mb, "MB")
    layer("spark.codegen_fallbacks") = (fallbackCount.toDouble / p, "count")
  }

  /** `sources` layer from the samples of the store round. */
  private def sourcesLayers(ss: Seq[Sample], st: IndexState, indexBytes: Long,
      indexBuildS: Double, coldS: Double): Unit = {
    org.apache.spark.BenchAccess.drainListenerBus(spark.sparkContext)
    def med(kind: String) = PerfBench.median(ss.filter(s => s.ok && s.kind == kind).map(_.latencyS))
    def tot(kinds: String*) =
      ledger.totals(ss.filter(s => kinds.contains(s.kind)).flatMap(s => ledger.jobsOf(s.id)))
    val written = tot("append", "compact").bytesWritten.toDouble
    // one user row costs what a base event row costs in the catalog's parquet
    val rowBytes = Files.size(Paths.get(dataDir, "events.parquet")).toDouble /
      math.max(1L, baseCounts.values.sum)
    val appendedBytes = st.appendedRows * rowBytes
    val liveBytes = (baseCounts.values.sum + st.appendedRows) * rowBytes
    layer("sources.index_build_s") = (indexBuildS, "s")
    layer("sources.cold_build_s") = (coldS, "s")
    layer("sources.lookup_s") = (med("lookup"), "s")
    layer("sources.lookup_many_s") = (med("lookup_many"), "s")
    layer("sources.append_s") = (med("append"), "s")
    layer("sources.compact_s") = (med("compact"), "s")
    layer("sources.files_per_bucket") =
      (filesPerBucket.sum / math.max(1, filesPerBucket.size), "count")
    layer("sources.rows_read_per_row_returned") =
      (tot("lookup", "lookup_many").recordsRead / math.max(1.0, returnedRows.toDouble), "ratio")
    layer("sources.bytes_written_mb") = (written / 1e6, "MB")
    layer("sources.write_amp") = (written / math.max(1.0, appendedBytes), "ratio")
    layer("sources.space_amp") = (indexBytes / liveBytes, "ratio")
  }

  private def spansWithJobs(): Seq[Span] = {
    val base = tracer.all
    val jobs = base.filter(_.name != "op").flatMap { ph =>
      ledger.jobsOf(ph.op).filter(_.phase == ph.name).map(j =>
        Span(-j.id.toLong, ph.id, ph.op, s"job ${j.id}", j.startMs.toDouble, j.endMs.toDouble))
    }
    base ++ jobs
  }
}

object PerfBench {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** The highest percentile with at least 10 samples beyond it, and that
    * percentile; the maximum when there are fewer than 11 samples. */
  def tail(sorted: Seq[Double]): (Double, Double) = {
    val n = sorted.size
    if (n == 0) (Double.NaN, Double.NaN)
    else if (n <= 10) (sorted.last, 100.0)
    else (sorted(n - 11), 100.0 * (n - 10) / n)
  }

  /** Seconds for a fixed, deterministic pure-JVM integer loop: a
    * machine-speed control read beside the run's numbers. */
  def calibrate(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var acc = 0L
    var i = 0
    while (i < 200000000) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      acc += x & 0xFF
      i += 1
    }
    val s = (System.nanoTime() - t0) / 1e9
    if (acc == 42) System.err.println("") // keeps the loop from being elided
    s
  }

  /** CPU seconds the hypervisor gave other guests (the `steal` column of
    * /proc/stat); its growth over the pass explains a slow run. */
  def hostStealS(): Double =
    Files.readAllLines(Paths.get("/proc/stat")).asScala.find(_.startsWith("cpu "))
      .map(_.trim.split("\\s+")(8).toDouble / 100).getOrElse(Double.NaN)

  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024)
      .getOrElse(throw new IllegalStateException("VmHWM not available"))

  private def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)

  def toJson(v: Any): String = v match {
    case m: Map[_, _] => m.toSeq.map { case (k, x) => s"${q(k.toString)}: ${toJson(x)}" }
      .mkString("{", ", ", "}")
    case (value: Double, unit: String) => s"""{"value": ${num(value)}, "unit": ${q(unit)}}"""
    case sp: Span => s"""{"id": ${sp.id}, "parent": ${sp.parent}, "op": ${q(sp.op)}, """ +
      s""""name": ${q(sp.name)}, "start_ms": ${num(sp.startMs)}, "end_ms": ${num(sp.endMs)}}"""
    case s: Seq[_] => s.map(toJson).mkString("[", ", ", "]")
    case s: String => q(s)
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double => num(d)
    case b: Boolean => b.toString
    case other => q(String.valueOf(other))
  }

  private def write(path: String, text: String): Unit = {
    val p = Paths.get(path)
    val tmp = Paths.get(path + ".tmp")
    Files.writeString(tmp, text)
    Files.move(tmp, p, StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
  }

  def main(args: Array[String]): Unit = args.toList match {
    // oracle SQL of every workload query, for the DuckDB side
    case "oracles" :: out :: Nil =>
      Workloads.validate()
      write(out, toJson(Workloads.AllQueries.map(n => n -> SparkEntry.oracleSql(n)).toMap))
    // expected fingerprints from the DuckDB results
    case "fingerprints" :: oracleDir :: runDir :: Nil =>
      Workloads.validate()
      val spark = SparkSession.builder().config(
        BenchConfig.spark(s"$runDir/warehouse", s"$runDir/spark-local").toMap).getOrCreate()
      spark.sparkContext.setLogLevel("WARN")
      val lines = Workloads.AllQueries.map(n =>
        Fingerprint.of(spark.read.parquet(s"$oracleDir/$n.parquet")).line(n))
      write(s"$oracleDir/fingerprints.tsv", lines.mkString("", "\n", "\n"))
      spark.stop()
    case "run" :: workload :: seed :: seconds :: trace :: dataDir :: oracleDir :: runDir :: out :: Nil =>
      val r = new Run(workload, seed.toLong, seconds.toDouble, trace == "1", dataDir,
        oracleDir, Paths.get(runDir))
      val result = try r.run() finally if (r.spark != null) r.spark.stop()
      write(out, toJson(result))
    case _ =>
      System.err.println("usage: PerfBench oracles <out.json> | fingerprints <oracleDir> <runDir> | " +
        "run <workload> <seed> <seconds> <trace 0|1> <dataDir> <oracleDir> <runDir> <out.json>")
      sys.exit(2)
  }
}
