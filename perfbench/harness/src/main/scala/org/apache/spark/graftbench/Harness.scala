package org.apache.spark.graftbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{SparkSession, classic}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.{BatchScanExec, FileScan}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftbench.ScanBytes
import org.apache.spark.scheduler.JobIds

import graft.SparkEntry

/** Closed-loop benchmark client for one workload: a list of registry
  * queries run one at a time inside this JVM.
  *
  *  1. set-up, `Setups` times: create a session and run one unmeasured
  *     warm-up pass; all but the last session are stopped again, and the
  *     last warm-up writes every query's result for the oracle comparison,
  *     outside every timed window;
  *  2. measured passes in seed-permuted orders until `--seconds` elapse
  *     (at least `MinPasses`).
  *
  * Each query is timed by layer from outside, through public calls: the
  * registry call (construction, with its eager jobs), forcing
  * `analyzed` / `optimizedPlan` / `executedPlan` (Catalyst), and
  * `toRdd.count()` (execution). Raw per-invocation records go to
  * `<out>/result.json` and, with `--trace 1`, spans to `<out>/trace.jsonl`;
  * `perfbench/run.py` turns them into metrics.
  */
object Harness extends AdaptiveSparkPlanHelper {
  import Recorder._

  private val Setups = 3
  private val MinPasses = 2

  private val baseNano = System.nanoTime()
  private val baseEpochUs = System.currentTimeMillis() * 1000
  private def epochUs(nano: Long): Long = baseEpochUs + (nano - baseNano) / 1000
  private def secs(n0: Long, n1: Long): Double = (n1 - n0) / 1e9

  /** What one query invocation measured. */
  final case class Run(name: String, pass: Int, qid: Long, error: Option[String],
      stamps: Array[Long], analysis: (Long, Long), rows: Long, jobSpan: Long,
      persistedBlocks: Long, plan: Option[(Int, Int, Int)]) {
    def totalS: Double = secs(stamps(0), stamps(5))
    def analysisMs: Double = (analysis._2 - analysis._1) / 1e3
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val names = opt("queries").split(",").toSeq
    val dataDir = opt("data")
    val out = new File(opt("out"))
    val seconds = opt("seconds").toDouble
    val seed = opt("seed").toLong
    val traced = opt("trace") == "1"
    val cpus = Runtime.getRuntime.availableProcessors
    val missing = names.filterNot(SparkEntry.queries.contains)
    require(missing.isEmpty, s"not in the registry: ${missing.mkString(", ")}")
    val tmp = new File(sys.props("java.io.tmpdir"))

    def newSession(): classic.SparkSession = graft.Sessions.withObjectStoreConf(
      SparkSession.builder()
        .master(s"local[$cpus]")
        .appName("graft-perfbench")
        .config("spark.sql.shuffle.partitions", cpus.toString)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.warehouse.dir", new File(out, "warehouse").getPath)
        .config("spark.local.dir", new File(out, "spark-local").getPath))
      .getOrCreate().asInstanceOf[classic.SparkSession]

    var nextQid = 0L
    val spanLines = mutable.ArrayBuffer.empty[String]
    val hygiene = mutable.LinkedHashMap.empty[(String, String, String), Int]
    val checkErrors = mutable.LinkedHashMap.empty[String, String]

    /** One query invocation, timed by layer. */
    def runQuery(spark: classic.SparkSession, rec: Recorder, name: String,
        pass: Int, hyg: Hygiene, checkDir: Option[File] = None): Run = {
      val sc = spark.sparkContext
      val qid = nextQid
      nextQid += 1
      val before = bookkeeping(sc)(hyg.snap())
      val persisted0 = sc.getPersistentRDDs.keySet
      val stamps = new Array[Long](6)
      var error: Option[String] = None
      var analysis = (0L, 0L)
      var rows = -1L
      var plan: Option[(Int, Int, Int)] = None
      var blocks = 0L
      rec.inFlight = qid
      sc.setLocalProperty(QidKey, qid.toString)
      val job0 = JobIds.submitted(sc)
      def phase(i: Int): Unit = {
        stamps(i) = System.nanoTime()
        sc.setLocalProperty(PhaseKey, Phases(i))
      }
      var df: org.apache.spark.sql.DataFrame = null
      try {
        phase(0)
        df = SparkEntry.queries(name)(spark, dataDir)
        val qe = df.asInstanceOf[classic.Dataset[_]].queryExecution
        phase(1); qe.analyzed
        phase(2); qe.optimizedPlan
        phase(3); qe.executedPlan
        phase(4); rows = qe.toRdd.count()
        stamps(5) = System.nanoTime()
        rec.addScanBytes(qid, 4, ScanBytes.ofPlan(qe.executedPlan))
        // the final plan was analyzed inside the registry call; the
        // planning tracker knows when
        analysis = qe.tracker.phases.get("analysis")
          .map(p => (p.startTimeMs * 1000, p.endTimeMs * 1000)).getOrElse((0L, 0L))
        val fresh = sc.getPersistentRDDs.keySet -- persisted0
        blocks = sc.getRDDStorageInfo(r => fresh(r.id)).map(_.numCachedPartitions.toLong).sum
        if (traced) plan = Some(planStats(qe.executedPlan))
      } catch {
        case e: Throwable =>
          stamps(5) = System.nanoTime()
          error = Some(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300))
      } finally {
        sc.setLocalProperty(QidKey, null)
        sc.setLocalProperty(PhaseKey, null)
      }
      val jobSpan = JobIds.submitted(sc) - job0
      if (traced) {
        sc.listenerBus.waitUntilEmpty()
        rec.inFlight = -1L
      }
      bookkeeping(sc) {
        for (dir <- checkDir) {
          try if (df != null) df.coalesce(1).write.mode("overwrite").parquet(new File(dir, name).getPath)
          catch { case e: Throwable => checkErrors(name) = s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300) }
        }
        val after = hyg.snap()
        for (f <- hyg.diff(before, after)) {
          val k = (name, f._1, f._2)
          hygiene(k) = hygiene.getOrElse(k, 0) + 1
        }
        hyg.removeNewTempEntries(before, after)
      }
      Run(name, pass, qid, error, stamps, analysis, rows, jobSpan, blocks, plan)
    }

    // ---- set-up: session + warm-up pass, repeated; the last one stays.
    val setupS = mutable.ArrayBuffer.empty[Double]
    var spark: classic.SparkSession = null
    var rec: Recorder = null
    var hyg: Hygiene = null
    var warm: Seq[Run] = Nil
    val warmJobs = mutable.ArrayBuffer.empty[Map[String, Long]]
    var probeStart: (Double, Double) = null
    for (k <- 1 to Setups) {
      val t0 = System.nanoTime()
      spark = newSession()
      val t1 = System.nanoTime()
      spark.sparkContext.setLogLevel("WARN")
      rec = new Recorder(traced)
      spark.sparkContext.addSparkListener(rec)
      hyg = new Hygiene(spark, tmp)
      // the last warm-up also writes each result for the correctness check
      val checkDir = if (k == Setups) Some(new File(out, "check")) else None
      warm = names.map(n => runQuery(spark, rec, n, -k, hyg, checkDir))
      setupS += secs(t0, t1) + warm.map(_.totalS).sum
      spark.sparkContext.listenerBus.waitUntilEmpty()
      warmJobs += warm.map(r => r.name -> rec.jobs(r.qid)).toMap
      if (k == 1) probeStart = probes(spark)
      if (k < Setups) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      System.gc()
      System.err.println(f"[perfbench] setup $k done at ${secs(baseNano, System.nanoTime())}%.1f s")
    }
    val sc = spark.sparkContext

    // ---- measured passes
    val runs = mutable.ArrayBuffer.empty[Run]
    val passHeap = mutable.ArrayBuffer.empty[Double]
    val measure0 = System.nanoTime()
    var pass = 0
    while (pass < MinPasses || secs(measure0, System.nanoTime()) < seconds) {
      val order = new Random(seed * 1000003L + pass).shuffle(names)
      startHeapPeak()
      runs ++= order.map(n => runQuery(spark, rec, n, pass, hyg))
      passHeap += heapPeakMb()
      pass += 1
    }
    val measureS = secs(measure0, System.nanoTime())
    sc.listenerBus.waitUntilEmpty()
    System.err.println(f"[perfbench] measured at ${secs(baseNano, System.nanoTime())}%.1f s")
    val probeEnd = probes(spark)

    // ---- records
    def counters(c: Counters): Map[String, Any] = Map(
      "jobs" -> c.jobs, "stages" -> c.stages, "tasks" -> c.tasks,
      "task_cpu_s" -> c.cpuNs / 1e9,
      "gc_s" -> c.gcMs / 1e3, "shuffle_read_bytes" -> c.shuffleRead,
      "shuffle_write_bytes" -> c.shuffleWrite, "spill_bytes" -> c.spill,
      "scan_bytes" -> c.scanBytes, "output_bytes" -> c.outBytes,
      "output_records" -> c.outRecords, "write_tasks" -> c.writeTasks)
    def record(r: Run): Map[String, Any] = {
      val ph = rec.counters(r.qid)
      val catalyst = new Counters
      Seq(1, 2, 3).foreach(i => catalyst += ph(i))
      val st = rec.stream(r.qid)
      val s = r.stamps
      val base = Map[String, Any](
        "name" -> r.name, "pass" -> r.pass, "qid" -> r.qid, "error" -> r.error.orNull,
        "total_s" -> r.totalS, "construct_s" -> secs(s(0), s(1)),
        "analysis_ms" -> r.analysisMs, "optimization_ms" -> secs(s(2), s(3)) * 1e3,
        "planning_ms" -> secs(s(3), s(4)) * 1e3, "exec_s" -> secs(s(4), s(5)),
        "rows" -> r.rows, "job_span" -> r.jobSpan, "trace_jobs" -> ph.map(_.jobs).sum,
        "persisted_blocks" -> r.persistedBlocks,
        "construct" -> counters(ph(0)), "catalyst" -> counters(catalyst),
        "execute" -> counters(ph(4)),
        "stream" -> Map("batches" -> st.batches, "input_rows" -> st.inputRows,
          "trigger_ms" -> st.triggerMs, "add_batch_ms" -> st.addBatchMs,
          "wal_commit_ms" -> st.walCommitMs, "query_planning_ms" -> st.planningMs,
          "state_rows" -> st.stateRows.values.sum, "state_mem_bytes" -> st.stateMem.values.sum))
      base ++ r.plan.map { case (x, f, n) =>
        Map("exchanges" -> x, "file_scans" -> f, "plan_nodes" -> n) }.getOrElse(Map.empty)
    }
    if (traced) for (r <- runs) spanLines ++= spans(r, rec)
    // Jobs per query in every warm-up and measured pass; a query whose
    // count moves between invocations reuses (or rebuilds) state.
    val jobsPerPass = names.map { n =>
      n -> (warmJobs.map(_(n)) ++ runs.filter(_.name == n).map(r => rec.jobs(r.qid))).toSeq
    }
    val reuse = jobsPerPass.filter(_._2.distinct.size > 1).map { case (n, js) =>
      Map("name" -> n, "jobs_per_invocation" -> js) }
    val result = Map[String, Any](
      "queries" -> names, "seed" -> seed, "traced" -> traced, "cpus" -> cpus,
      "setup_s" -> setupS.toSeq, "measure_s" -> measureS, "passes" -> pass,
      "pass_heap_mb" -> passHeap.toSeq,
      "box_speed" -> Map("cpu_probe_start_s" -> probeStart._1, "shuffle_probe_start_s" -> probeStart._2,
        "cpu_probe_end_s" -> probeEnd._1, "shuffle_probe_end_s" -> probeEnd._2),
      "warmup" -> warm.map(record), "runs" -> runs.toSeq.map(record),
      "unattributed_jobs" -> rec.unattributedJobs,
      "reuse_mismatches" -> reuse.toSeq,
      "hygiene" -> hygiene.toSeq.map { case ((q, kind, detail), n) =>
        Map("query" -> q, "kind" -> kind, "detail" -> detail, "times" -> n) },
      "check_errors" -> checkErrors.toMap,
      "oracle_sql" -> SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) })
    Files.writeString(Paths.get(out.getPath, "result.json"), Json(result) + "\n")
    if (traced) Files.writeString(Paths.get(out.getPath, "trace.jsonl"), spanLines.mkString("", "\n", "\n"))
    System.err.println(f"[perfbench] written at ${secs(baseNano, System.nanoTime())}%.1f s")
    spark.stop()
  }

  /** (shuffle exchanges, file scans, plan nodes) of the final AQE plan,
    * subqueries included.
    */
  private def planStats(p: SparkPlan): (Int, Int, Int) = {
    val nodes = collectWithSubqueries(p) { case n => n }
    (nodes.count(_.isInstanceOf[ShuffleExchangeLike]),
      nodes.count {
        case _: FileSourceScanExec => true
        case b: BatchScanExec => b.scan.isInstanceOf[FileScan]
        case _ => false
      },
      nodes.size)
  }

  /** The query span, its five phase spans, and the listener's job and
    * batch spans linked under the phase they started in.
    */
  private def spans(r: Run, rec: Recorder): Seq[String] = {
    val s = r.stamps
    def line(id: Int, parent: Int, name: String, t0: Long, t1: Long): String =
      Json(Map("qid" -> r.qid, "query" -> r.name, "pass" -> r.pass, "id" -> id,
        "parent" -> parent, "name" -> name, "start_us" -> t0, "end_us" -> t1))
    val phases = Phases.indices.map {
      case 1 => line(2, 0, Phases(1), r.analysis._1, r.analysis._2)
      case i => line(i + 1, 0, Phases(i), epochUs(s(i)), epochUs(s(i + 1)))
    }
    val children = rec.spansOf(r.qid).zipWithIndex.map { case (sp, j) =>
      line(Phases.size + 1 + j, sp.parent + 1, sp.name, sp.startUs, sp.endUs)
    }
    (line(0, -1, "query", epochUs(s(0)), epochUs(s(5))) +: phases) ++ children
  }

  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP)

  /** Start a pass's heap high-water mark from its live data: collect, then
    * reset every heap pool's peak.
    */
  private def startHeapPeak(): Unit = {
    System.gc()
    heapPools.foreach(_.resetPeakUsage())
  }

  /** Heap high-water mark since `startHeapPeak`: the sum of the heap pools'
    * peaks (eden, survivor, old). It counts transient allocations too, such
    * as the large arrays of a collect or a broadcast, which the collector
    * places straight into the old generation.
    */
  private def heapPeakMb(): Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0

  /** Run `body` with its jobs attributed to the harness (qid -1), so that
    * an unattributed job always means one no query claimed.
    */
  private def bookkeeping[T](sc: org.apache.spark.SparkContext)(body: => T): T = {
    sc.setLocalProperty(QidKey, "-1")
    try body finally sc.setLocalProperty(QidKey, null)
  }

  /** Box speed: the two calibration probes of `graft.Bench`, same shape
    * and partitioning, sized down to fit a run: the fixed-cost CPU probe
    * (a range sum in 64 slices, 1e8 rows of its 4e8) and the
    * exchange-bearing shuffle probe (hash repartition into 64 partitions
    * plus a group-by, 1e5 rows of its 1e7). One timed run each; they
    * measure the box, not the engine.
    */
  private def probes(spark: classic.SparkSession): (Double, Double) = bookkeeping(spark.sparkContext) {
    def cpu(rows: Long): Unit = spark.range(0L, rows, 1L, 64).selectExpr("sum(id % 97)")
      .queryExecution.toRdd.count()
    def shuffle(rows: Long): Unit = spark.range(0L, rows, 1L, 64).selectExpr("id AS k")
      .repartition(64, col("k")).groupBy("k").count().queryExecution.toRdd.count()
    def timed(f: Long => Unit, rows: Long): Double = {
      f(64L) // same generated code on one row per slice: compiles it untimed
      val t0 = System.nanoTime(); f(rows); secs(t0, System.nanoTime())
    }
    (timed(cpu, 100000000L), timed(shuffle, 100000L))
  }
}

/** Session state a query could leak into the next one. */
final case class Snap(conf: Map[String, String], views: Set[String],
    catalogs: Set[String], cached: Set[Int], tmp: Set[String], streams: Set[String])

final class Hygiene(spark: classic.SparkSession, tmp: File) {
  def snap(): Snap = Snap(
    spark.conf.getAll,
    spark.sessionState.catalog.listTables("default").map(_.unquotedString).toSet,
    spark.sessionState.catalogManager.listCatalogs(None).toSet,
    spark.sparkContext.getPersistentRDDs.collect {
      case (id, r) if !r.isCheckpointed => id }.toSet,
    Option(tmp.list()).map(_.toSet).getOrElse(Set.empty),
    spark.streams.active.map(q => Option(q.name).getOrElse(q.id.toString)).toSet)

  /** Delete what a query left in the temp directory, so that every
    * invocation starts from the same state: the engine keeps resumable
    * stores there (e2e pipeline stages, vector indexes) that a rerun would
    * otherwise reuse instead of recomputing. Native libraries the JVM
    * unpacked there stay.
    */
  def removeNewTempEntries(a: Snap, b: Snap): Unit =
    (b.tmp -- a.tmp).filterNot(runtimeOwned).foreach { n =>
      org.apache.commons.io.FileUtils.deleteQuietly(new File(tmp, n))
    }

  /** Temp entries of the JVM and of Spark itself, not of any query. */
  private def runtimeOwned(n: String): Boolean =
    n.matches(""".*\.so(\.lck)?|artifacts-.*""")

  /** A temp entry's name with its random part masked, so that one query's
    * leaks group into one finding.
    */
  private def masked(n: String): String =
    n.replaceAll("""[0-9a-f]{8}-[0-9a-f-]{27}|(?<=_)[0-9a-f]{8,}|\d{6,}""", "*")

  /** (kind, detail) for every difference between two snapshots. */
  def diff(a: Snap, b: Snap): Seq[(String, String)] = {
    def sets[T](kind: String, x: Set[T], y: Set[T]): Seq[(String, String)] =
      (y -- x).map(v => kind -> s"+$v").toSeq ++ (x -- y).map(v => kind -> s"-$v").toSeq
    val conf = (a.conf.keySet ++ b.conf.keySet).toSeq.sorted
      .filter(k => a.conf.get(k) != b.conf.get(k))
      .map(k => "session_conf" -> s"$k=${b.conf.getOrElse(k, "<unset>")}")
    conf ++ sets("temp_view", a.views, b.views) ++ sets("catalog", a.catalogs, b.catalogs) ++
      sets("persisted_rdd", a.cached, b.cached).filter(_._2.startsWith("+")) ++
      sets("temp_dir", a.tmp.filterNot(runtimeOwned).map(masked),
        b.tmp.filterNot(runtimeOwned).map(masked)) ++
      sets("active_stream", a.streams, b.streams)
  }
}

/** Minimal JSON rendering for the harness's records. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }
  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
