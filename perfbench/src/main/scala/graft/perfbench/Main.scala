package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

import graft.{GraftSession, SparkEntry, Tables}
import graft.pipeline.{DataQuality, Pipeline, Retry}

/** One benchmark run of one workload, timed end to end; with `--trace 1`,
  * timed per layer instead. Writes its measurements, its failures and the
  * query outputs still to be checked as JSON to `--out`.
  *
  *  - `pipeline`: the paper's daily batch. The first `Pipeline.run` of the
  *    process, then warm days of a fresh run plus the next day's re-run.
  *  - `query_mix`: a fixed mix of `SparkEntry.queries`, each run as build +
  *    noop write. A cold pass in a fresh session, the next day's pass in a
  *    second fresh session, then warm passes in that session.
  *
  * Usage: Main --workload pipeline|query_mix --seed N --seconds S
  *   --trace 0|1 --cores N --data DIR --work DIR --out FILE
  */
object Main {
  /** The pipeline's universe: short symbols with the reference's 30-day
    * hourly history (the per-symbol driver loops dominate them) plus one
    * long-history symbol (the row path dominates it). */
  val shortSymbols = 2
  val shortBars = 150
  val longBars = 4000

  val setups = 8
  /** Next-day sessions of the query mix, each a fresh session. */
  val nextDays = 2
  /** Units run after the cold one to warm the JIT up, and not measured: a
    * pipeline day, two passes of the query mix. The JIT's progress through
    * them varies from run to run. */
  val warmUpDays = 1
  val warmUpPasses = 2
  val runTs = "20260101T000000Z"
  val nextDayTs = "20260102T000000Z"

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val run = new Run(args("seed").toLong, args("seconds").toInt,
      args("trace") == "1", args("cores").toInt, args("data"), args("work"))
    val out = args("workload") match {
      case "pipeline" => run.pipeline()
      case "query_mix" => run.queryMix()
      case w => sys.error(s"unknown workload $w")
    }
    Files.writeString(Paths.get(args("out")), out)
    // the engine leaves non-daemon threads behind; do not wait on them
    sys.exit(0)
  }

  /** Seconds of a fresh pipeline run and of the next day's re-run. */
  final case class Day(fresh: Double, rerun: Option[Double])

  /** (query, build seconds, build + noop write seconds) */
  type Timed = (String, Double, Double)

  def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    val m = s.length / 2
    if (s.length % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
  }

  def dirBytes(dir: String): Long = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) 0L
    else {
      val walk = Files.walk(root)
      try walk.filter(p => Files.isRegularFile(p))
        .mapToLong(p => Files.size(p)).sum()
      finally walk.close()
    }
  }

  def deleteTree(dir: String): Unit = {
    val root = Paths.get(dir)
    if (Files.exists(root)) {
      val walk = Files.walk(root)
      try walk.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(p => Files.delete(p))
      finally walk.close()
    }
  }

  /** Per-layer metrics of the layers each workload does not run. */
  val pipelineLayers: Seq[String] = Seq("ingest_s", "ingest_jobs",
    "ingest_task_s", "raw_files", "raw_bytes", "transform_list_s",
    "transform_s", "transform_jobs", "transform_task_s", "processed_bytes",
    "rerun_rewrite_ratio", "dq_s", "dq_jobs", "dq_rows_checked", "combine_s",
    "combine_jobs", "combine_task_s", "combined_rows", "combined_bytes",
    "predict_s", "predict_jobs", "predict_task_s", "predict_shuffle_bytes",
    "predictions_rows", "zone_bytes_per_bar")
  val queryLayers: Seq[String] = Seq("build_s", "build_jobs", "build_task_s",
    "build_cold_s", "build_warm_s")
}

final class Run(seed: Long, seconds: Int, trace: Boolean, cores: Int,
    dataDir: String, workDir: String) {
  import Main._

  private val e2e = mutable.LinkedHashMap.empty[String, Double]
  private val layer = mutable.LinkedHashMap.empty[String, Double]
  private val failures = mutable.ArrayBuffer.empty[String]
  private var attempted = 0
  private val checks = mutable.ArrayBuffer.empty[Map[String, Any]]
  private var heapPeak = 0L
  private val t0 = System.nanoTime()

  private var spark: SparkSession = _
  private var tracer: Option[Tracer] = None
  /** Per-layer figures of each traced warm unit (a day or a pass). */
  private val traced = mutable.ArrayBuffer.empty[Map[String, Double]]

  /** One operation: counted as attempted; a throw is recorded as a failure
    * under `what` and yields None. */
  private def attempt[A](what: String)(body: => A): Option[A] = {
    attempted += 1
    try Some(body)
    catch { case NonFatal(e) =>
      failures += s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}"
      None
    }
  }

  /** Records one failed operation when `errors` is non-empty. */
  private def wrong(what: String, errors: Seq[String]): Unit =
    if (errors.nonEmpty) failures += s"$what: ${errors.take(5).mkString("; ")}"

  private def op[A](name: String)(body: => A): A =
    tracer.fold(body)(_.op(name)(body))
  private def span[A](name: String)(body: => A): A =
    tracer.fold(body)(_.span(name)(body))

  private def note(msg: String): Unit = System.err.println(
    f"[perfbench ${(System.nanoTime() - t0) / 1e9}%7.1f s] $msg")

  /** Live heap: used heap after full collections; the run's peak. Spark's
    * context cleaner frees the blocks of collected datasets on its own
    * thread after a collection, so collect again until the heap settles. */
  private def liveHeap(): Unit = {
    def collect() = {
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    }
    var (before, used) = (Long.MaxValue, collect())
    var tries = 0
    while (before - used > (1L << 20) && tries < 10) {
      Thread.sleep(100)
      before = used
      used = collect()
      tries += 1
    }
    heapPeak = math.max(heapPeak, used)
    note(f"live heap ${used / 1048576.0}%.1f MiB")
  }

  // ---- set-up -----------------------------------------------------------

  /** (session, Tables.configure) seconds for one set-up. */
  private def setUp(): (Double, Double) = {
    val (s, start) = timed(GraftSession.builder(s"local[$cores]", cores)
      .config("spark.ui.enabled", "false").getOrCreate())
    s.sparkContext.setLogLevel("ERROR")
    val (_, conf) = timed(Tables.configure(s))
    spark = s
    (start, conf)
  }

  /** The process's own set-up (JVM start until the session is ready), then
    * more set-ups after stopping the session and its context. */
  private def setUpAll(): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val first = setUp()
    val cold = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val again = (1 until setups).map { _ =>
      spark.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      timed(setUp())
    }
    e2e("setup_s") = median(cold +: again.map(_._2))
    val parts = first +: again.map(_._1)
    layer("setup_cold_s") = cold
    layer("session_start_s") = median(parts.map(_._1))
    layer("tables_configure_s") = median(parts.map(_._2))
    note(s"set-up: process ${cold}s, median ${e2e("setup_s")}s")
    if (trace) tracer = Some(new Tracer(spark))
  }

  /** Runs units (days or passes) until the time is up and there are at
    * least `minWarm` warm units; units before `firstWarm` are not warm. A
    * traced run traces every even unit and leaves the odd ones untraced,
    * for the tracing overhead. `body(i)` returns the unit's result, or None
    * when it failed. Returns (unit, traced, result) per completed unit. */
  private def units[A](firstWarm: Int, minWarm: Int)(body: Int => Option[A])
      : Seq[(Int, Boolean, A)] = {
    val out = mutable.ArrayBuffer.empty[(Int, Boolean, A)]
    val start = System.nanoTime()
    def warm(tr: Boolean) = out.count(u => u._1 >= firstWarm && u._2 == tr)
    var i = 0
    while (i < firstWarm || warm(false) < minWarm ||
        (trace && warm(true) < minWarm) ||
        (System.nanoTime() - start) / 1e9 < seconds) {
      require(i < 50, "too few warm units completed")
      val isTraced = trace && i % 2 == 0
      val saved = tracer
      if (!isTraced) tracer = None
      val from = saved.map(_.all.length).getOrElse(0)
      val (r, wall) = timed(body(i))
      tracer = saved
      if (isTraced && i >= firstWarm)
        tracer.foreach(t => traced += unitLayer(t, from, wall))
      r.foreach(a => out += ((i, isTraced, a)))
      liveHeap()
      i += 1
    }
    out.toSeq
  }

  // ---- pipeline ---------------------------------------------------------

  private def runPipeline(bars: DataFrame, dir: String, ts: String)
      : DataFrame =
    if (tracer.isEmpty) Pipeline.run(spark, bars, dir, ts)
    else op("pipeline") {
      // Pipeline.run's composition, one span per public stage call
      import Retry.withRetry
      val retry = Retry.Policy()
      span("ingest") {
        withRetry(retry, "ingest") {
          Pipeline.Ingest.run(spark, bars, s"$dir/raw", ts)
        }
      }
      span("transform_list") {
        Pipeline.Transform.latestRawPerSymbol(spark, s"$dir/raw")
      }
      val syms = span("transform") {
        withRetry(retry, "transform") {
          Pipeline.Transform.run(spark, s"$dir/raw", s"$dir/processed")
        }
      }
      span("dq") {
        syms.foreach { sym =>
          DataQuality.enforce(
            spark.read.parquet(s"$dir/processed/${sym}_processed"),
            DataQuality.barChecks, s"processed/$sym")
        }
      }
      val rows = span("combine") {
        withRetry(retry, "combine") {
          Pipeline.Combine.run(spark, s"$dir/processed", s"$dir/combined")
        }
      }
      // every processed row passed the gate and was combined
      layer("combined_rows") = rows.toDouble
      layer("dq_rows_checked") = rows.toDouble
      span("predict") {
        withRetry(retry, "predict") {
          Pipeline.Predict.run(spark, s"$dir/combined", s"$dir/predictions")
        }
      }
    }

  private def predictions(df: DataFrame): Map[String, Prediction] =
    df.collect().map { r =>
      val p = Prediction(r.getAs[String]("symbol"),
        r.getAs[Double]("predicted_close"), r.getAs[String]("last_date"),
        r.getAs[Double]("mse"))
      p.symbol -> p
    }.toMap

  private def processedStamps(dir: String): Map[String, Long] =
    Option(new File(s"$dir/processed").listFiles()).toSeq.flatten
      .map(d => d.getName -> new File(d, "_SUCCESS").lastModified()).toMap

  def pipeline(): String = {
    setUpAll()
    val codegen0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

    // inputs, made from the seed, outside any timing; the re-run's new raw
    // file is a short symbol's history plus one more day
    val bars = Bars.series(seed, 0, longBars) ++
      (1 to shortSymbols).flatMap(Bars.series(seed, _, shortBars))
    val changedIdx = 1 + new scala.util.Random(seed).nextInt(shortSymbols)
    val changed = Bars.symbol(changedIdx)
    val nextSeries =
      Bars.series(seed, changedIdx, shortBars + Bars.barsPerDay)
    val want = OlsCheck.expected(bars)
    val wantChanged = OlsCheck.fit(changed, nextSeries)
    val barsDf = Bars.toDF(spark, bars).persist(StorageLevel.MEMORY_ONLY)
    val nextDf = Bars.toDF(spark, nextSeries).persist(StorageLevel.MEMORY_ONLY)
    barsDf.count(); nextDf.count()
    deleteTree(workDir)
    note("inputs ready")

    // a fresh run, then (except on the cold day) the next day's re-run over
    // the same work directory; outputs are checked outside the timing
    val firstWarm = 1 + warmUpDays
    val days = units(firstWarm, minWarm = 3) { i =>
      val dir = s"$workDir/day$i"
      val day = attempt("pipeline") {
        val (out, sec) = timed(runPipeline(barsDf, dir, runTs))
        if (i == 0) zones(dir, bars.length)
        val got = predictions(out)
        if (trace) layer("predictions_rows") = got.size.toDouble
        wrong("pipeline", OlsCheck.mismatches(want, got))
        (sec, got)
      }.flatMap { case (freshSec, first) =>
        if (i == 0) Some(Day(freshSec, None))
        else attempt("rerun") {
          val before = processedStamps(dir)
          val (out, sec) = timed(runPipeline(nextDf, dir, nextDayTs))
          val got = predictions(out)
          // untouched symbols: identical to the first run; the changed one:
          // the independent fit over its new file
          val drift = (first.keySet - changed).toSeq.sorted
            .filter(s => got.get(s) != first.get(s))
            .map(s => s"$s: changed by a re-run that did not touch it")
          wrong("rerun", OlsCheck.mismatches(
            first + (changed -> wantChanged), got) ++ drift)
          val after = processedStamps(dir)
          layer("rerun_rewrite_ratio") =
            after.count { case (k, t) => before.get(k).forall(_ != t) }
              .toDouble
          Day(freshSec, Some(sec))
        }
      }
      note(s"day $i: $day")
      deleteTree(dir)
      day
    }
    val cold = days.find(_._1 == 0)
      .getOrElse(sys.error("the cold pipeline run failed"))._3
    def warm(tr: Boolean) =
      days.filter(d => d._1 >= firstWarm && d._2 == tr).map(_._3)
    val plain = warm(false)
    if (!trace) {
      e2e("cold_s") = cold.fresh
      e2e("warm_s") = median(plain.map(_.fresh))
      e2e("rerun_s") = median(plain.flatMap(_.rerun))
      e2e("heap_mb") = heapPeak / 1048576.0
    } else {
      layer("trace_overhead_s") =
        median(warm(true).map(_.fresh)) - median(plain.map(_.fresh))
      queryLayers.foreach(layer(_) = 0.0)
      finishLayers(codegen0)
    }
    finish()
  }

  private def zones(dir: String, nBars: Int): Unit = {
    val bytes = Seq("raw", "processed", "combined", "predictions")
      .map(z => z -> dirBytes(s"$dir/$z")).toMap
    layer("zone_bytes_per_bar") = bytes.values.sum.toDouble / nBars
    layer("raw_files") = Option(new File(s"$dir/raw").list())
      .map(_.length).getOrElse(0).toDouble
    layer("raw_bytes") = bytes("raw").toDouble
    layer("processed_bytes") = bytes("processed").toDouble
    layer("combined_bytes") = bytes("combined").toDouble
  }

  // ---- queries ----------------------------------------------------------

  private lazy val queries = SparkEntry.queries
  private lazy val oracle = SparkEntry.oracleSql

  /** build + noop write of every query of the mix, in order. */
  private def pass(qs: SparkSession, mix: Seq[String]): Seq[Timed] =
    mix.flatMap { q =>
      attempt(s"query $q") {
        op(q) {
          val (df, build) = timed(span("build")(queries(q)(qs, dataDir)))
          tracer.foreach(_.record(df.queryExecution))
          val (_, exec) = timed(span("exec") {
            df.write.format("noop").mode("overwrite").save()
          })
          (q, build, build + exec)
        }
      }
    }

  /** Writes a query's result for the output check; None when that fails. */
  private def output(qs: SparkSession, q: String, kind: String)
      : Option[String] = {
    val path = s"$workDir/q/$q/$kind"
    try {
      queries(q)(qs, dataDir).coalesce(1).write.mode("overwrite")
        .parquet(path)
      Some(path)
    } catch { case NonFatal(e) =>
      failures += s"query $q: $kind output: ${e.getClass.getSimpleName}: " +
        e.getMessage
      None
    }
  }

  def queryMix(): String = {
    setUpAll()
    val codegen0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val mix = QueryMix.mix
    deleteTree(workDir)

    // pass 0: cold, in a fresh session; passes 1 and 2: the next day's,
    // each in another fresh session; then warm-up and warm passes in the
    // last session, each in its own seeded order
    def session() = {
      val s = spark.newSession()
      tracer.foreach(_.watch(s))
      s
    }
    val sessions = Seq.fill(nextDays + 1)(session())
    val first = sessions.head
    val next = sessions.last
    val firstWarm = nextDays + 1 + warmUpPasses
    val passes = units(firstWarm, minWarm = 6) { i =>
      val r = pass(sessions(math.min(i, nextDays)),
        if (i <= nextDays) mix else QueryMix.warmOrder(seed, i))
      note(f"pass $i: ${r.map(_._3).sum}%.2fs " +
        r.map(t => f"${t._1}=${t._3}%.2f").mkString(" "))
      Some(r)
    }
    // oracle queries: both results against DuckDB would cost a second
    // write per query, so the warm one; the others: cold against warm
    val warmOut = mix.map(q => q -> output(next, q, "warm")).toMap
    val coldOut = mix.filterNot(oracle.contains)
      .map(q => q -> output(first, q, "cold")).toMap
    note("outputs written")
    checks ++= mix.map { q =>
      Map("name" -> q, "pack" -> QueryMix.packOf(q),
        "sql" -> oracle.get(q).orNull, "cold" -> coldOut.get(q).flatten.orNull,
        "warm" -> warmOut(q).orNull, "runs" -> passes.length)
    }

    def sum(i: Int) = passes.filter(_._1 == i).flatMap(_._3).map(_._3).sum
    def warmSum(tr: Boolean): Double =
      passes.filter(p => p._1 >= firstWarm && p._2 == tr).flatMap(_._3)
        .groupBy(_._1).values.map(xs => median(xs.map(_._3))).sum
    if (!trace) {
      e2e("cold_s") = sum(0)
      e2e("warm_s") = warmSum(false)
      e2e("rerun_s") = median((1 to nextDays).map(sum))
      e2e("heap_mb") = heapPeak / 1048576.0
    } else {
      layer("trace_overhead_s") = warmSum(true) - warmSum(false)
      layer("build_cold_s") =
        passes.filter(_._1 == 0).flatMap(_._3).map(_._2).sum
      layer("build_s") = passes.flatMap(_._3).map(_._2).sum
      pipelineLayers.foreach(layer(_) = 0.0)
      finishLayers(codegen0)
    }
    finish()
  }

  // ---- per-layer --------------------------------------------------------

  /** Per-layer figures of one traced warm unit, from the spans it added. */
  private def unitLayer(t: Tracer, from: Int, wall: Double)
      : Map[String, Double] = {
    t.drain()
    val spans = t.all.drop(from)
    val byParent = spans.groupBy(_.parent)
    val m = mutable.LinkedHashMap.empty[String, Double]
    // pipeline: the day's fresh run is its first root span
    spans.find(s => s.parent < 0 && s.name == "pipeline").foreach { root =>
      val stages = byParent.getOrElse(root.id, Nil)
      def stage(n: String): (Double, Counters) = {
        val ss = stages.filter(_.name == n)
        (ss.map(_.seconds).sum, t.sum(ss.flatMap(t.subtree)))
      }
      for (n <- Seq("ingest", "transform_list", "transform", "dq",
          "combine", "predict")) m(s"${n}_s") = stage(n)._1
      for (n <- Seq("ingest", "transform", "dq", "combine", "predict"))
        m(s"${n}_jobs") = stage(n)._2.jobs.toDouble
      for (n <- Seq("ingest", "transform", "combine", "predict"))
        m(s"${n}_task_s") = stage(n)._2.taskNs / 1e9
      m("predict_shuffle_bytes") = stage("predict")._2.shuffleWrite.toDouble
      m("unattributed_s") = root.seconds - stages.map(_.seconds).sum
    }
    // queries: one root per query, with build and exec spans below it
    val builds = spans.filter(_.name == "build")
    if (builds.nonEmpty) {
      val bc = t.sum(builds.flatMap(t.subtree))
      m("build_warm_s") = builds.map(_.seconds).sum
      m("build_jobs") = bc.jobs.toDouble
      m("build_task_s") = bc.taskNs / 1e9
      val roots = spans.filter(_.parent < 0)
      m("unattributed_s") = roots.map(_.seconds).sum -
        roots.flatMap(r => byParent.getOrElse(r.id, Nil)).map(_.seconds).sum
    }
    val all = t.sum(spans.map(_.id))
    m("analysis_s") = all.phasesMs("analysis") / 1e3
    m("optimization_s") = all.phasesMs("optimization") / 1e3
    m("planning_s") = all.phasesMs("planning") / 1e3
    m("exec_s") = Tracer.unionSeconds(all.jobIntervals.toSeq)
    m("exec_jobs") = all.jobs.toDouble
    m("stages") = all.stages.toDouble
    m("tasks") = all.tasks.toDouble
    m("task_s") = all.taskNs / 1e9
    m("task_cpu_s") = all.cpuNs / 1e9
    m("gc_s") = all.gcMs / 1e3
    m("shuffle_read_bytes") = all.shuffleRead.toDouble
    m("shuffle_write_bytes") = all.shuffleWrite.toDouble
    m("spill_bytes") = all.spill.toDouble
    m("peak_exec_mem_bytes") = all.peakMem.toDouble
    m("task_util") = all.taskNs / 1e9 / (wall * cores)
    m.toMap
  }

  /** Medians over the traced warm units, plus the run's codegen count. */
  private def finishLayers(codegen0: Long): Unit = {
    require(traced.nonEmpty, "no traced warm unit completed")
    traced.head.keys.foreach { k =>
      layer(k) = median(traced.flatMap(_.get(k)).toSeq)
    }
    layer("codegen_compiles") =
      (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - codegen0).toDouble
  }

  private def finish(): String = {
    val spans = tracer.map(_.dump()).getOrElse(Nil)
    tracer.foreach(_.close())
    spark.stop()
    note("stopped")
    import org.json4s._
    import org.json4s.jackson.Serialization
    implicit val formats: Formats = DefaultFormats
    Serialization.write(Map(
      "seed" -> seed, "data" -> dataDir,
      "metrics" -> (if (trace) layer.toMap else e2e.toMap),
      "attempted" -> attempted, "failures" -> failures.toList,
      "queries" -> checks.toList, "spans" -> spans))
  }
}
