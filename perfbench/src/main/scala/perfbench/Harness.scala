package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.SparkSession

/** One timed op: `fnS` is the eager work of the call that produced the
  * result (a registry `Q.fn`, a table API call or a SQL statement) and
  * `sinkS` the materialisation of that result. */
final case class OpSample(id: Long, pass: Int, name: String, kind: String,
    fnS: Double, sinkS: Double, ok: Boolean, traced: Boolean,
    start: Double, end: Double, error: String = "")

/** Resource state after an op (traced runs only). */
final case class Resources(op: Long, streamsActive: Long, persistedRdds: Int,
    heapUsedMb: Double, scratchMb: Double, localMb: Double)

/** Command-line options the runner passes. */
final case class Opts(workload: String, seed: Long, cores: Int,
    seconds: Int, trace: Boolean, data: String, out: String, work: String)

/** JVM side of the benchmark: builds the session, runs the warm and
  * verification pass, then the timed phase, and writes `result.json` and
  * (traced) `spans.jsonl` into the output directory. The runner turns
  * those into metrics. */
object Harness {

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val o = Opts(kv("workload"), kv("seed").toLong, kv("cores").toInt,
      kv("seconds").toInt, kv("trace") == "1", kv("data"), kv("out"),
      kv("work"))
    val w = Workloads.byName.getOrElse(o.workload,
      sys.error(s"unknown workload ${o.workload}"))
    new File(o.out).mkdirs()
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(o)
    val scratch = ScratchRoot(o.data)
    try {
      val run = w.run(spark, o, scratch)
      val setupS = (run.setupEndMs - jvmStartMs) / 1000.0
      val gcS = gcSeconds() - run.gcAtTimedStartS
      // heap left live after the timed phase: one collection AFTER timing
      System.gc()
      val liveMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage
        .getUsed / 1048576.0
      Output.write(o, run, setupS, liveMb, gcS, peakRssMb())
    } finally {
      spark.stop()
      scratch.cleanup()
    }
  }

  def session(o: Opts): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[${o.cores}]")
      .appName(s"perfbench-${o.workload}")
      .config("spark.sql.shuffle.partitions", o.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .config("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
      .config("spark.sql.catalog.graft.root", s"${o.work}/catalog")
    if (o.trace) b
      .config("spark.extraListeners", "perfbench.JobListener")
      .config("spark.sql.queryExecutionListeners", "perfbench.PlanListener")
      .config("spark.sql.streaming.streamingQueryListeners",
        "perfbench.StreamListener")
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Runs `body` as op `id`: the op id rides a local property so every job
    * it starts (also from stream threads it creates) is attributed to it. */
  def asOp[T](spark: SparkSession, id: Long)(body: => T): T = {
    spark.sparkContext.setLocalProperty(Trace.OpProperty, id.toString)
    Trace.currentOp = id
    try body
    finally {
      spark.sparkContext.setLocalProperty(Trace.OpProperty, null)
      Trace.currentOp = 0L
    }
  }

  def resources(spark: SparkSession, op: Long, scratch: ScratchRoot,
      work: String): Resources = Resources(op,
    Trace.streamsStarted.get - Trace.streamsTerminated.get,
    spark.sparkContext.getPersistentRDDs.size,
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0,
    scratch.bytes() / 1048576.0,
    dirBytes(new File(s"$work/spark-local")) / 1048576.0)

  def dirBytes(f: File): Long =
    if (!f.exists) 0L
    else if (f.isFile) f.length
    else Option(f.listFiles).map(_.map(dirBytes).sum).getOrElse(0L)

  def dirFiles(f: File, pred: File => Boolean): Long =
    if (!f.exists) 0L
    else if (f.isFile) (if (pred(f)) 1L else 0L)
    else Option(f.listFiles).map(_.map(dirFiles(_, pred)).sum).getOrElse(0L)

  /** VmHWM of this JVM: the resident-set high-water mark, in MB. */
  def peakRssMb(): Double = scala.util.Try {
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024)
      .getOrElse(0.0)
  }.getOrElse(0.0)

  def shuffled[T](xs: Seq[T], seed: Long): Seq[T] = new Random(seed).shuffle(xs)

  /** Timed passes (or blocks) for a run: `nominal` rounded, at least one,
    * and at least two in a traced run so `queries.pass_drift` compares the
    * same work early and late. `trace.wall_s` times only the first
    * `units(o.copy(trace = false), nominal)` of them. */
  def units(o: Opts, nominal: Double): Int =
    math.max(if (o.trace) 2 else 1, math.round(nominal).toInt)

  def gcSeconds(): Double = ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(_.getCollectionTime).sum / 1000.0
}

/** The library writes registry sinks and checkpoints under a fixed
  * scratch root, one `<name>_<tag>` directory per query, where the tag
  * hashes the input directory. The benchmark's input directory is its
  * own, so every directory with its tag is the benchmark's: it measures
  * them and removes them, and the root's empty ancestors, at exit. */
final case class ScratchRoot(data: String) {
  private val probe = new File(graft.queries.QueryDSL.scratch(
    "perfbench_probe", data))
  private val root = probe.getParentFile
  private val tag = "_" + graft.queries.QueryDSL.dirTag(data)
  private def ours: Seq[File] = Option(root.listFiles).toSeq.flatten
    .filter(_.getName.endsWith(tag))
  def bytes(): Long = ours.map(Harness.dirBytes).sum
  def cleanup(): Unit = {
    ours.foreach(d => graft.queries.QueryDSL.wipe(d.getPath))
    Iterator.iterate(root)(_.getParentFile).take(3)
      .takeWhile(d => d != null && d.isDirectory &&
        Option(d.list).exists(_.isEmpty))
      .foreach(_.delete())
  }
}

/** What a workload hands back to the output writer. */
final case class RunResult(setupEndMs: Double, gcAtTimedStartS: Double,
    timedWallS: Double, passWallS: Seq[(Int, Boolean, Double)],
    untracedUnits: Int,
    samples: Seq[OpSample], warmAttempted: Int,
    warmFailures: Seq[(String, String)], verified: Seq[String],
    oracle: Map[String, String], resources: Seq[Resources],
    extra: Map[String, Double])

trait Workload {
  def name: String
  def run(spark: SparkSession, o: Opts, scratch: ScratchRoot): RunResult
}

/** A workload of registry queries: an op is one `Q.fn` call plus a `noop`
  * write of the frame it returns. `nominalPassS` is the pass time this
  * workload was sized with on a 4-core host; the number of timed passes is
  * `--seconds` over it, so a run does a fixed amount of work. */
final case class RegistryWorkload(name: String, queries: Seq[String],
    nominalPassS: Double) extends Workload {

  def passes(o: Opts): Int = Harness.units(o, o.seconds / nominalPassS)

  def run(spark: SparkSession, o: Opts, scratch: ScratchRoot): RunResult = {
    val reg = graft.SparkEntry.queries
    val missing = queries.filterNot(reg.contains)
    require(missing.isEmpty, s"not in the registry: ${missing.mkString(",")}")
    val oracle = graft.SparkEntry.oracleSql.filter { case (k, _) =>
      queries.contains(k) }
    // Warm pass = verification pass: each op runs once, untimed, and its
    // full result is written for the oracle comparison.
    val failures = mutable.ArrayBuffer.empty[(String, String)]
    queries.sorted.foreach { q =>
      try reg(q)(spark, o.data).coalesce(1).write.mode("overwrite")
        .parquet(s"${o.out}/dumps/$q")
      catch { case t: Throwable => failures += q -> Output.clean(t) }
    }
    val setupEnd = Trace.nowMs()
    val gc0 = Harness.gcSeconds()
    val samples = mutable.ArrayBuffer.empty[OpSample]
    val res = mutable.ArrayBuffer.empty[Resources]
    val passWall = mutable.ArrayBuffer.empty[(Int, Boolean, Double)]
    val t0 = System.nanoTime()
    Trace.enabled = o.trace
    for (p <- 0 until passes(o)) {
      val ps = System.nanoTime()
      for (q <- Harness.shuffled(queries, o.seed * 1000003L + p)) {
        val id = Trace.nextId()
        val start = Trace.nowMs()
        val s0 = System.nanoTime()
        var s1 = s0
        val err = Harness.asOp(spark, id) {
          try {
            val df = reg(q)(spark, o.data)
            s1 = System.nanoTime()
            df.write.format("noop").mode("overwrite").save()
            ""
          } catch { case t: Throwable => Output.clean(t) }
        }
        val s2 = System.nanoTime()
        if (err.nonEmpty && s1 == s0) s1 = s2
        val end = Trace.nowMs()
        Trace.opDone(id, start, end)
        samples += OpSample(id, p, q, "op", (s1 - s0) / 1e9, (s2 - s1) / 1e9,
          err.isEmpty, o.trace, start, end, err)
        if (o.trace) res += Harness.resources(spark, id, scratch, o.work)
      }
      passWall += ((p, o.trace, (System.nanoTime() - ps) / 1e9))
    }
    val wall = (System.nanoTime() - t0) / 1e9
    Trace.stop(spark)
    RunResult(setupEnd, gc0, wall, passWall.toSeq,
      passes(o.copy(trace = false)), samples.toSeq,
      queries.size, failures.toSeq,
      queries.filterNot(q => failures.exists(_._1 == q)), oracle, res.toSeq,
      Map.empty)
  }
}

object Workloads {
  /** The 58 reference-parity queries: the SURVEY §2 operator inventory,
    * copied from `graft.Bench`'s core set so a later move of that list
    * leaves this workload unchanged. */
  val referenceParity: Seq[String] = Seq(
    "q1_agg",
    "s3_json_flatten", "s4_pruned_scan", "s5_roundtrip",
    "s6_upsert_ignore", "s7_partitioned_sink", "s8_csv_roundtrip",
    "s11_paged_union",
    "p1_project_rename", "p2_regex_filter", "p3_date_cutoff",
    "p4_nulldrop", "p5_inlist", "p6_notin", "p7_lookup", "p8_first_match",
    "j1_fullouter_upsert", "j2_anti_resume", "j3_semi_validate",
    "j4_broadcast_enrich", "j5_except_delta",
    "a1_mode", "a2_batch_index", "a3_collect_set_join", "a4_distinct",
    "a5_hash_dedup", "a6_ceil_paging", "a7_coercion_stats",
    "w1_sort_topn", "w2_rank_in_order", "w3_first_per_key",
    "w4_size_rank", "w5_collision_suffix",
    "u1_union_all", "u2_diagonal_union", "u4_intersect",
    "f1_normalize_ws", "f3_initcap", "f4_zeropad", "f5_slugify",
    "f6_sanitize", "f7f8_bcrp_dates", "f9_api_format",
    "f10_numeric_coercion", "f11_coalesce_pref", "f12_when_cascade",
    "f13_lit_tag", "f14_format_path", "f15_json_extract", "f16_sha256",
    "f18_extract_int",
    "r1_pivot", "r2_unpivot", "r3_mef_rollup", "r4_grouping_sets",
    "g1_staged_dag", "g2_composite_upsert", "c1_cache_lifecycle")

  /** Every third reference-parity query in the order above: at least one
    * per operator family. The full 58 need a 37 s cold warm-and-verify
    * pass and 19 s per timed pass on 4 cores, more than a run can spend
    * when the whole benchmark must fit its time budget. */
  val referenceBatch: Seq[String] =
    referenceParity.zipWithIndex.collect { case (q, i) if i % 3 == 0 => q }

  /** Bounded stream drains: session folds, a keyed MERGE sink and the
    * commitOnce manifest sinks of an aggregate refresh and a CDC replica.
    * The index fold-ins (foldOnce: st11, st14, st21, st36) take 3-5 s
    * each, more than this workload's whole pass. */
  val streamDrains: Seq[String] = Seq(
    "st2_sessionize", "st6_session_window", "st25_stream_agg_refresh",
    "st26_stream_cdc_replica", "st29_stream_merge_upsert")

  val byName: Map[String, Workload] = Seq[Workload](
    RegistryWorkload("reference-batch", referenceBatch, 6.5),
    RegistryWorkload("stream-ingest", streamDrains, 4.0),
    Lifecycle
  ).map(w => w.name -> w).toMap
}
