package graft.perf

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Output summary of one job: its row count and an order-insensitive
  * checksum, which must repeat exactly on every pass. */
final case class Out(rows: Long, checksum: Long)

final class CheckFailed(msg: String) extends RuntimeException(msg)

/** Jobs and checks attempted and failed; a failure is recorded and the
  * run goes on, so one broken job cannot erase the other numbers. */
final class Ops {
  var attempted = 0
  val failures = ArrayBuffer.empty[String]
  def failed: Int = failures.length

  def attempt[T](name: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch { case NonFatal(e) => failures += s"$name: $e"; None }
  }
}

/** What every workload shares: session, seed, scratch dir, spans, ops. */
final class Ctx(val spark: SparkSession, val seed: Long, val work: java.io.File,
                val cores: Int, val tracer: Tracer, val ops: Ops) {
  /** Per-layer numbers recorded during set-up, one value per set-up. */
  val setupLayers = scala.collection.mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]
  def recordSetup(name: String, v: Double): Unit =
    setupLayers.getOrElseUpdate(name, ArrayBuffer.empty) += v

  /** Run one job of a pass under its span; None if it threw. */
  def job(name: String)(body: => Out): Option[(String, Out)] =
    ops.attempt(name)(tracer.span(name)(body)).map(name -> _)

  /** Time `body` under a span, in seconds. */
  def timed[T](name: String)(body: => T): (Double, T) = tracer.span(name) {
    val t0 = System.nanoTime()
    val r = body
    ((System.nanoTime() - t0) / 1e9, r)
  }
}

trait Workload {
  /** Name of the work-items-per-second rate, as the info line reports it. */
  def itemMetric: String
  /** Discarded passes before timing; the first one's outputs are the reference. */
  def warmups: Int
  /** Build the inputs; called several times, each call replacing the last. */
  def setup(): Unit
  /** One pass of the workload's jobs, each through `Ctx.job`. */
  def pass(): Map[String, Out]
  /** Work items one pass completes: coords or queries. */
  def items: Long
  /** Output checks against driver-side computations, outside timed passes;
    * each throws [[CheckFailed]] on a wrong answer. */
  def checks(ref: Map[String, Out]): Seq[(String, () => Unit)]
  /** Per-layer probes for a traced run, given the medians of the untraced
    * timed passes' wall time and executor run time, seconds. */
  def probes(wallS: Double, execRunS: Double): Map[String, Double]
  /** Input properties recorded with every result. */
  def inputs: Seq[(String, Any)]
}

object Main {
  val SetupReps = 3
  /** Untraced timed passes a run makes at least, so that `wall_s` of a
    * workload whose pass nearly fills the window is still the median of
    * three, which one slow pass cannot move. */
  val MinSamples = 3
  /** Generated classes Spark keeps compiled.  One knnJoin call compiles
    * ~135 distinct classes, more than the default cache of 100 holds, so
    * with the default every pass recompiled them all on the driver (about
    * half of a ~10 s pass, and still speeding up after six passes as the
    * compiler itself warmed up).  With room for them the compiles fall in
    * the first warm-up pass; `spark.codegen_compiles` counts what a timed
    * pass still compiles. */
  val CodegenCacheEntries = 2000

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** Row count plus an order-insensitive 31-bit-sum checksum of `keys`. */
  def summary(df: DataFrame, rows: Column, keys: Column*): Out = {
    val r = df.agg(rows, sum(xxhash64(keys: _*).bitwiseAND(lit(0x7fffffffL)))).head()
    Out(if (r.isNullAt(0)) 0L else r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  def check(ok: Boolean, msg: => String): Unit = if (!ok) throw new CheckFailed(msg)

  private def arg(argv: Array[String], name: String): String = {
    val i = argv.indexOf(s"--$name")
    require(i >= 0 && i + 1 < argv.length, s"missing --$name")
    argv(i + 1)
  }

  /** `--workload w --seed n --seconds s --trace 0|1 --work dir --cores n`
    * prints the info line and the result line. */
  def main(argv: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val work = new java.io.File(arg(argv, "work"))
    val cores = arg(argv, "cores").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cores]").appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.autoBroadcastJoinThreshold", (64 * 1024 * 1024).toString)
      .config("spark.sql.files.maxPartitionBytes", (8 * 1024 * 1024).toString)
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .config("spark.local.dir", new java.io.File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new java.io.File(work, "warehouse").getPath)
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.nanoTime() - t0) / 1e9
    try run(spark, arg(argv, "workload"), arg(argv, "seed").toLong, arg(argv, "seconds").toInt,
      arg(argv, "trace") == "1", work, cores, sessionS).foreach(println)
    finally spark.stop()
    System.exit(0)
  }

  private final case class Sample(wallS: Double, traced: Boolean, stages: StageTotals,
                                  drvGcS: Double, compiles: Long)

  /** One workload run; returns the info line and the result line. */
  def run(spark: SparkSession, name: String, seed: Long, seconds: Int, trace: Boolean,
          work: java.io.File, cores: Int, sessionS: Double): Seq[String] = {
    val tracer = new Tracer(trace)
    val ops = new Ops
    val ctx = new Ctx(spark, seed, work, cores, tracer, ops)
    val stats = new StageStats(spark.sparkContext)
    val wl: Workload = name match {
      case "transform"    => new TransformWorkload(ctx)
      case "knn"          => new KnnWorkload(ctx)
    }

    // set-up runs several times; the median is the set-up cost, and the
    // inputs of the last one are the ones measured
    val setupS = tracer.span("run.setup") {
      (1 to SetupReps).map(_ => ctx.timed("setup")(wl.setup())._1)
    }

    // discarded warm-up passes; the first one's outputs are the reference
    // checksums, and its wall time is spark.warmup_s
    System.gc()
    val (warmupS, ref) = ctx.timed("warmup")(wl.pass())
    for (_ <- 2 to wl.warmups) ctx.timed("warmup")(wl.pass())

    // closed loop, one client: the next pass starts when the last ended.
    // A traced run alternates untraced and traced passes, so the tracing
    // overhead is measured within the run; starting untraced, the two
    // untraced passes it needs take three passes, not four.  Its metrics
    // have no bound, so two untraced passes do, which keeps a traced knn
    // run well inside the time limit.
    val samples = ArrayBuffer.empty[Sample]
    val deadline = System.nanoTime() + seconds * 1000000000L
    val minUntraced = if (trace) 2 else MinSamples
    def short = samples.count(!_.traced) < minUntraced || (trace && !samples.exists(_.traced))
    while (short || System.nanoTime() < deadline) {
      System.gc()
      stats.reset()
      val gc0 = Jvm.gcSeconds
      val compiles0 = Jvm.codegenCompiles
      val traced = trace && samples.length % 2 == 1
      val (wallS, outs) =
        if (traced) ctx.timed("pass")(wl.pass())
        else tracer.untraced(ctx.timed("pass")(wl.pass()))
      samples += Sample(wallS, traced, stats.totals, Jvm.gcSeconds - gc0,
        Jvm.codegenCompiles - compiles0)
      for ((job, out) <- outs if ref.get(job).exists(_ != out))
        ops.failures += s"$job: checksum $out differs from warm-up ${ref(job)}"
    }

    tracer.span("checks") {
      for ((check, body) <- wl.checks(ref)) ops.attempt(check)(tracer.span(check)(body()))
    }

    val untraced = samples.filterNot(_.traced)
    val wallS = median(untraced.map(_.wallS).toSeq)
    val items = wl.items
    val e2e = Seq(("setup_s", sessionS + median(setupS), "s"), ("wall_s", wallS, "s"))
    // setup_s is the sum of these two; on transform the session is nearly all of it
    val setupParts = Seq(("session_s", sessionS, "s"), ("setup_median_s", median(setupS), "s"))
    val perLayer: Seq[(String, Double, String)] =
      if (!trace) Nil
      else {
        def med(f: Sample => Double) = median(untraced.map(f).toSeq)
        val probed = tracer.span("probes")(wl.probes(wallS, med(_.stages.execRunS)))
        val setupLayers = ctx.setupLayers.map { case (k, v) => k -> median(v.toSeq) }
        val spark = Map(
          "spark.exec_run_s" -> med(_.stages.execRunS),
          "spark.exec_cpu_s" -> med(_.stages.execCpuS),
          "spark.task_gc_s" -> med(_.stages.taskGcS),
          "spark.drv_gc_s" -> med(_.drvGcS),
          "spark.shuffle_write_mb" -> med(_.stages.shuffleWriteMb),
          "spark.stages" -> med(_.stages.stages.toDouble),
          "spark.codegen_compiles" -> med(_.compiles.toDouble),
          "spark.warmup_s" -> warmupS)
        val tracedWall = median(samples.filter(_.traced).map(_.wallS).toSeq)
        val traceStats = Map(
          "trace.overhead_s" -> (tracedWall - wallS),
          "trace.self_pass_s" -> median(tracer.selfOf("pass")),
          "trace.self_setup_s" -> median(tracer.selfOf("setup")),
          "trace.spans" -> tracer.all.length.toDouble)
        val all = setupLayers ++ spark ++ traceStats ++ probed
        PerLayer.all.map { case (metric, unit) => (metric, all.getOrElse(metric, 0.0), unit) }
      }

    val named = Seq((wl.itemMetric, items / wallS, "1/s"),
      ("failed_ops_frac", ops.failed.toDouble / math.max(1, ops.attempted), "fraction"))
    val traceFile = new java.io.File(work.getParentFile, s"traces/$name-seed$seed.json")
    val inputs = (Seq("seed" -> seed, "local" -> s"local[$cores]") ++ wl.inputs)
      .map { case (k, v) => s""""$k":${jsonValue(v)}""" }.mkString("{", ",", "}")
    if (trace)
      tracer.writeJson(traceFile, s""""workload":"$name","inputs":$inputs""")
    val info = s"""{"info":{"workload":"$name","inputs":$inputs,""" +
      s""""samples":${untraced.length},"traced_samples":${samples.count(_.traced)},""" +
      s""""wall_s_samples":[${untraced.map(s => f"${s.wallS}%.4f").mkString(",")}],""" +
      s""""named":${metricsJson(named)},"setup_parts":${metricsJson(setupParts)},""" +
      s""""failures":[${ops.failures.map(jsonValue).mkString(",")}]""" +
      (if (trace) s""","trace_file":${jsonValue(traceFile.getPath)}""" else "") + "}}"
    val result = s"""{"correct":${ops.failed == 0},"attempted":${ops.attempted},""" +
      s""""failed":${ops.failed},"metrics":${metricsJson(if (trace) perLayer else e2e)}}"""
    Seq(info, result)
  }

  private def metricsJson(ms: Seq[(String, Double, String)]): String =
    ms.map { case (k, v, u) =>
      s""""$k":{"value":${if (v.isNaN || v.isInfinite) "null" else v.toString},"unit":"$u"}"""
    }.mkString("{", ",", "}")

  private def jsonValue(v: Any): String = v match {
    case s: String => "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"; case c if c < ' ' => " "; case c => c.toString
      } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Box => s"[${b.west},${b.south},${b.east},${b.north}]"
    case o => o.toString
  }
}

/** Every per-layer metric a traced run prints, with its unit; a metric
  * whose layer the workload does not run reads 0. */
object PerLayer {
  val all: Seq[(String, String)] = Seq(
    "synth.corpus_write_s" -> "s", "synth.corpus_mb" -> "MB", "synth.cache_fill_s" -> "s",
    "proj.parse_ms" -> "ms", "grids.load_ms" -> "ms", "grids.bytes" -> "bytes",
    "kernels.webmerc_ns" -> "ns", "kernels.utm_ns" -> "ns", "kernels.helmert_ns" -> "ns",
    "kernels.gridshift_ns" -> "ns", "expr.evaluator_ns" -> "ns",
    "expr.stage_ns_per_coord" -> "ns",
    "cells.cellid_ns" -> "ns", "cells.pip_cover_cells" -> "count",
    "geodesic.inverse_ns" -> "ns",
    "engine.tile_assign_s" -> "s", "engine.hex_tile_s" -> "s", "engine.pip_join_s" -> "s",
    "engine.distance_join_s" -> "s", "engine.raster_tile_s" -> "s",
    "engine.distance_join.candidate_pairs" -> "count",
    "engine.distance_join.output_frac" -> "fraction",
    "engine.knn.pass1_pairs" -> "count", "engine.knn.pass1_join_s" -> "s",
    "engine.knn.topk_s" -> "s", "engine.knn.topk_ns_per_pair" -> "ns",
    "engine.knn.pass1_settled_frac" -> "fraction", "engine.knn.rest_s" -> "s",
    "data.minhash_sig_s" -> "s", "data.dedup_pairs" -> "count",
    "spark.exec_run_s" -> "s", "spark.exec_cpu_s" -> "s", "spark.task_gc_s" -> "s", "spark.drv_gc_s" -> "s",
    "spark.shuffle_write_mb" -> "MB", "spark.stages" -> "count", "spark.codegen_compiles" -> "count",
    "spark.warmup_s" -> "s",
    "trace.overhead_s" -> "s", "trace.self_pass_s" -> "s", "trace.self_setup_s" -> "s",
    "trace.spans" -> "count")
}
