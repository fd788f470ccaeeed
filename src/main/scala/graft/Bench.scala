package graft

import org.apache.spark.{ListenerBusDrain, SparkConf, SparkContext}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import java.util.concurrent.atomic.LongAdder

import graft.data.Dedup
import graft.geo.engine.{GeoEngine, SpatialStats}
import graft.geo.expr.geo
import graft.geo.synth.DocCorpus

/** The benchmark main.  With no argument it runs the per-round pipeline
  * and prints one JSON line; the modes are one-off measurements recorded
  * in BENCH.md and BASELINE.md:
  *
  * {{{
  *   graft.Bench                            spatial pipeline -> one JSON line
  *   graft.Bench scaling [nDocs] [N] [dedup] local[N] vs local[4N] -> BASELINE.md
  *   graft.Bench corpus [n]                 corpus-assembly ops, one JSON line per job
  *   graft.Bench stats [n]                  spatial statistics, one JSON line per job
  *   graft.Bench tin                        single-thread tinshift kernel rate
  * }}}
  *
  * Every mode shares one session helper ([[session]]), one timer
  * ([[timeRep]] / [[timeMedian]], each rep with its diagnosis trail), one
  * (rows, checksum) aggregation (`GeoEngine.rowsAndChecksum`) and one
  * materialized-table cache (`materialize`).
  *
  * Pipeline: spatial-join output rows/s and tile assignments/s over the
  * synthetic interleaved-document corpus, plus the per-core numeric
  * kernel rate for comparison with the reference's single-thread numbers
  * (BASELINE.md).  Corpus size scales with the sf directory in
  * `SPARK_GRAFT_SF_DIR` (sf0.1 -> 1M docs).  Every job is timed as
  * median-of-3 with one discarded warm-up, and each rep records its own
  * diagnosis trail (process CPU, driver GC delta, executor run / task-GC
  * / stage-wall totals, shuffle bytes) into the JSON `diag` object — a
  * slow rep self-identifies as JVM state (task_gc_ms high), driver heap
  * (drv_gc_ms high), or host scheduling (wall up while exec_run_ms and
  * both GC columns stay flat).  A job whose grid or registry file is
  * absent is listed under `skipped` with the cause; `value` sums the jobs
  * that ran. */
object Bench {

  /** sf-keyed corpus size; SPARK_GRAFT_DOCS overrides for ad-hoc scale
    * anchors (e.g. the 10M-doc sf1-equivalent run recorded in BENCH.md). */
  def corpusSize(sfDir: String): Long =
    sys.env.get("SPARK_GRAFT_DOCS").map(_.toLong).getOrElse {
      if (sfDir.contains("sf0.001")) 10000L
      else if (sfDir.contains("sf0.01")) 100000L
      else 1000000L
    }

  /** Hotspot-cluster polygons (match DocCorpus.hotspots) + one large
    * background box: the PIP workload with realistic skew. */
  val benchPolys: Seq[GeoEngine.Polygon] = Seq(
    GeoEngine.Polygon("tokyo", Array(139.0, 35.1, 140.4, 35.1, 140.4, 36.3, 139.0, 36.3)),
    GeoEngine.Polygon("nyc", Array(-74.6, 40.1, -73.4, 40.1, -73.4, 41.3, -74.6, 41.3)),
    GeoEngine.Polygon("paris", Array(1.7, 48.2, 3.0, 48.2, 3.0, 49.5, 1.7, 49.5)),
    GeoEngine.Polygon("background",
      Array(-120.3, -30.2, -60.1, -30.2, -60.1, 10.4, -120.3, 10.4)))

  // ------------------------------------------------------------- session

  private def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")

  /** The bench session.  The master is `local[cores]` when given (a
    * scaling rung), else the configured one (spark-submit's `--master`),
    * else `local[SPARK_GRAFT_CPUS]`.  Shuffle partitions default to that
    * core count; `conf` adds or overrides settings.  The codegen cache
    * holds 2000 classes: one `knnJoin` builds ~135, more than Spark's
    * default of 100, so every knn rep would recompile them.  The timer's
    * diag listener is attached to the new context. */
  def session(cores: Option[Int], conf: (String, Any)*): SparkSession = {
    val b = SparkSession.builder()
    cores match {
      case Some(n) => b.master(s"local[$n]")
      case None => if (!new SparkConf().contains("spark.master")) b.master(s"local[$cpus]")
    }
    val base = Seq[(String, Any)](
      "spark.sql.shuffle.partitions" -> cores.fold(cpus)(_.toString),
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false",
      "spark.sql.codegen.cache.maxEntries" -> 2000)
    for ((k, v) <- base ++ conf) b.config(k, v.toString)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    listen(spark.sparkContext)
    spark
  }

  // --------------------------------------------------------------- timer

  /** Per-stage totals accumulated between `reset()` calls — the in-rep
    * evidence for the `diag` JSON. */
  final class StageDiagListener extends SparkListener {
    val execRunMs = new LongAdder; val taskGcMs = new LongAdder
    val shuffleReadB = new LongAdder; val shuffleWriteB = new LongAdder
    val stageWallMs = new LongAdder; val stages = new LongAdder
    def reset(): Unit = Seq(execRunMs, taskGcMs, shuffleReadB,
      shuffleWriteB, stageWallMs, stages).foreach(_.reset())
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
      val m = sc.stageInfo.taskMetrics
      if (m != null) {
        execRunMs.add(m.executorRunTime); taskGcMs.add(m.jvmGCTime)
        shuffleReadB.add(m.shuffleReadMetrics.totalBytesRead)
        shuffleWriteB.add(m.shuffleWriteMetrics.bytesWritten)
      }
      for (s <- sc.stageInfo.submissionTime; c <- sc.stageInfo.completionTime)
        stageWallMs.add(c - s)
      stages.add(1L)
    }
  }

  /** One rep's diagnosis trail.  `cpuSec` is process CPU time (user+sys,
    * all threads) — the scaling pairs' work-conservation figure. */
  final case class RepDiag(sec: Double, cpuSec: Double, drvGcMs: Long,
                           execRunMs: Long, taskGcMs: Long, shReadMb: Long,
                           shWriteMb: Long, stageWallMs: Long, stages: Long) {
    def json: String =
      s"""{"sec":$sec,"cpu_s":$cpuSec,"drv_gc_ms":$drvGcMs,"exec_run_ms":$execRunMs,""" +
        s""""task_gc_ms":$taskGcMs,"sh_read_mb":$shReadMb,""" +
        s""""sh_write_mb":$shWriteMb,"stage_wall_ms":$stageWallMs,"stages":$stages}"""
  }

  final case class JobResult(sec: Double, rows: Long, reps: Seq[RepDiag]) {
    def repSecs: Seq[Double] = reps.map(_.sec)
  }

  private var diagBus: Option[(SparkContext, StageDiagListener)] = None

  /** Attaches a fresh diag listener to `sc`; later reps read it. */
  private def listen(sc: SparkContext): Unit = {
    val l = new StageDiagListener
    sc.addSparkListener(l)
    diagBus = Some((sc, l))
  }

  private def driverGcMs(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(b => math.max(0L, b.getCollectionTime)).sum
  }

  private def processCpuSec(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean =>
        os.getProcessCpuTime / 1e9
      case _ => -1.0
    }

  /** One timed pass with its diagnosis trail.  The listener bus is drained
    * before the reset (earlier jobs' events stay out of this rep) and
    * after the pass (every stage event of this rep is counted). */
  def timeRep[T](f: => T): (RepDiag, T) = {
    for ((sc, l) <- diagBus) { ListenerBusDrain(sc); l.reset() }
    val gc0 = driverGcMs(); val cpu0 = processCpuSec()
    val t0 = System.nanoTime()
    val out = f
    val sec = (System.nanoTime() - t0) / 1e9
    val cpuSec = processCpuSec() - cpu0
    val d = diagBus match {
      case Some((sc, l)) =>
        ListenerBusDrain(sc)
        RepDiag(sec, cpuSec, driverGcMs() - gc0, l.execRunMs.sum, l.taskGcMs.sum,
          l.shuffleReadB.sum >> 20, l.shuffleWriteB.sum >> 20,
          l.stageWallMs.sum, l.stages.sum)
      case None => RepDiag(sec, cpuSec, driverGcMs() - gc0, 0, 0, 0, 0, 0, 0)
    }
    (d, out)
  }

  /** One discarded warm-up pass (JIT + shuffle-service + code-cache), then
    * `reps` timed passes; records the MEDIAN so the driver artifact is not
    * hostage to a single GC-outlier run (the round-2 artifact recorded a
    * 100 s knn that re-ran at 21 s).  All reps keep their full diagnosis
    * trail in the JSON for run-to-run variance audit. */
  def timeMedian(reps: Int)(f: => Long): JobResult = {
    // flush the weak-ref shuffle/cache state accumulated by EARLIER jobs
    // before anything here is timed: the first GC after a long run kicks
    // off an async ContextCleaner storm (shuffle-file deletes,
    // block-manager RPC) that otherwise lands inside the first timed rep
    // — the recorded signature was rep1 at 3-4x reps 2-3
    System.gc()
    Thread.sleep(300)
    f // warm-up, discarded
    val runs = (1 to reps).map { _ =>
      // each rep starts from a compacted heap with cleanup drained
      System.gc()
      Thread.sleep(200)
      timeRep(f)
    }
    val med = runs.map(_._1.sec).sorted.apply(reps / 2)
    JobResult(med, runs.head._2, runs.map(_._1))
  }

  // --------------------------------------------------------------- cache

  /** Writes the table at `path` unless a committed copy (`_SUCCESS`) is
    * already there; returns the write's seconds, 0 when reused. */
  private def materialize(path: String)(write: String => Unit): Double =
    if (new java.io.File(s"$path/_SUCCESS").exists()) 0.0
    else timeRep(write(path))._1.sec

  private def writeCorpus(spark: SparkSession, n: Long)(path: String): Unit =
    DocCorpus.write(spark, n, path, parts = spark.sparkContext.defaultParallelism * 2)

  /** (doc_id, text): a corpus doc's text spans joined by spaces. */
  private def spanText(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      array_join(col("spans").getField("text"), " ").as("text"))

  // ------------------------------------------------------------ pipeline

  /** The benchmark pipeline over a materialized corpus path: the jobs
    * that ran, in order, and the skipped ones with their causes. */
  def runJobs(spark: SparkSession, corpusPath: String,
              tileLevel: Int): (Seq[(String, JobResult)], Seq[(String, String)]) = {
    val ran = Seq.newBuilder[(String, JobResult)]
    val skipped = Seq.newBuilder[(String, String)]
    def job(name: String)(f: => Long): Unit = ran += name -> timeMedian(3)(f)

    val docs = spark.read.parquet(corpusPath)
    // extract once, keep the narrow (id, lon, lat) projection hot — the
    // layout a production pipeline would have as its columnar geo table
    val geoDocs = GeoEngine.withGeoTag(docs)
      .select("doc_id", "lon", "lat").cache()
    geoDocs.count()
    // same for the dedup input: project the span text ONCE (narrow
    // (id, text) cache), so the minhash job measures dedup — not a
    // re-decode of the wide span arrays on every rep
    val texts = spanText(docs).cache()
    texts.count()
    // compact the heap + let the ContextCleaner drop corpus-build state
    // before anything is timed
    System.gc()

    job("tile_assign") {
      // full tile assignment + occupancy rollup (two map-side-combined aggs)
      GeoEngine.tileOccupancy(geoDocs, tileLevel)
        .agg(sum("n_docs")).head().getLong(0)
    }
    job("pip_join") {
      GeoEngine.pipJoin(spark, geoDocs, benchPolys).count()
    }
    job("knn") {
      val queries = geoDocs.where(col("doc_id") <
          f"doc${2000}%012d")
        .select(col("doc_id").as("query_id"), col("lon"), col("lat"))
      val data = geoDocs.select(col("doc_id").as("data_id"), col("lon"), col("lat"))
      GeoEngine.knnJoin(queries, data, k = 10, level = 12).count()
    }
    job("distance_join") {
      // within-distance (range) join: ~200 deterministic query docs vs the
      // full corpus at 25 km — headline "spatial-join output rows/s"
      val queries = geoDocs
        .where(pmod(xxhash64(col("doc_id")), lit(5000)) === 0)
        .select(col("doc_id").as("query_id"), col("lon"), col("lat"))
      val data = geoDocs.select(col("doc_id").as("data_id"), col("lon"), col("lat"))
      GeoEngine.distanceJoin(queries, data, radiusMeters = 25000.0).count()
    }
    job("hex_tile") {
      // hex tile assignment + occupancy (the H3-flavor tiling): webmerc
      // projection + axial hexbin + one map-side-combined agg — same
      // single-exchange shape as tile_assign on the square grid
      GeoEngine.hexOccupancy(geoDocs, sizeMeters = 25000.0)
        .agg(sum("n_docs")).head().getLong(0)
    }
    job("raster_tile") {
      val raster = GeoEngine.tiled(geoDocs, 6).select("cell").distinct()
        .withColumn("value", (col("cell") % 97).cast("double"))
      GeoEngine.rasterVectorStats(geoDocs, raster, 6)
        .agg(sum("n_docs")).head().getLong(0)
    }
    job("kernel_10m") {
      // raw per-row numeric rate: webmerc fwd + cell encode over 10M
      // generated points — compares to PROJ's 1.6-4.4M/s/core.  Both
      // columns feed the checksum so Catalyst cannot prune the cell
      // encode; no null filter (every point is inside webmerc's domain)
      val k = graft.geo.kernels.WebMercKernel()
      val n = 10000000L
      val pts = spark.range(0, n, 1, 64)
        .select((pmod(col("id") * lit(1.000003), lit(359.9)) - lit(179.95)).as("lon"),
          (pmod(col("id") * lit(1.000007), lit(169.9)) - lit(84.95)).as("lat"))
      GeoEngine.rowsAndChecksum(pts.select(
          geo.transform(k, forward = true, outDims = 2, col("lon"), col("lat"))
            .getField("x").as("x"),
          geo.cellId(col("lon"), col("lat"), 12).as("cell")), Seq(col("x"), col("cell")))._1
    }
    try job("gridshift_10m") {
      // NTv2 grid-shift rate over France (ntf_r93.gsb ships with the
      // reference tests): deg->rad, bilinear shift, rad->deg — the
      // real-world datum-transformation hot path at corpus scale
      val k = graft.geo.proj.ProjString.parse(
        "+proj=pipeline +step +proj=unitconvert +xy_in=deg +xy_out=rad " +
          "+step +proj=hgridshift +grids=ntf_r93.gsb " +
          "+step +proj=unitconvert +xy_in=rad +xy_out=deg")
      val n = 10000000L
      val pts = spark.range(0, n, 1, 64)
        .select((pmod(col("id") * lit(1.000003), lit(8.0)) - lit(3.95)).as("lon"),
          (pmod(col("id") * lit(1.000007), lit(8.5)) + lit(42.55)).as("lat"))
      pts.select(
          geo.transform(k, forward = true, outDims = 2, col("lon"), col("lat"))
            .getField("x").as("x"))
        .where(col("x").isNotNull)
        .agg(count(lit(1))).head().getLong(0)
    } catch {
      // an absent grid costs this job only; any other failure fails the run
      case e: graft.geo.proj.ProjString.AssetMissing => skipped += "gridshift_10m" -> e.detail
    }
    // re-touch the texts cache OUTSIDE the timed region: a first rep that
    // silently re-decodes evicted span arrays reads as a 4x spike
    texts.count()
    job("minhash_dedup") {
      Dedup.minhashLsh(texts, jaccardThreshold = 0.5).count()
    }
    texts.unpersist()
    (ran.result(), skipped.result())
  }

  private def pipeline(): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = session(None,
      "spark.sql.autoBroadcastJoinThreshold" -> 64 * 1024 * 1024,
      "spark.sql.files.maxPartitionBytes" -> 8 * 1024 * 1024)
    val n = corpusSize(sfDir)
    val corpusPath = s"/tmp/graft_bench_corpus_$n"
    val genSec = materialize(corpusPath)(writeCorpus(spark, n))

    val (jobs, skipped) = runJobs(spark, corpusPath, tileLevel = 12)
    val total = jobs.map(_._2.sec).sum
    def obj(f: JobResult => Any): String =
      jobs.map { case (k, v) => s""""$k":${f(v)}""" }.mkString("{", ",", "}")
    def rate(job: String): Long = jobs.collectFirst {
      case (`job`, v) => (v.rows / math.max(1e-9, v.sec)).toLong }.get
    val skip = skipped.map { case (k, m) =>
      s""""$k":"${m.replace("\\", "\\\\").replace("\"", "\\\"")}"""" }.mkString("{", ",", "}")
    val tput =
      s""""tile_assignments_per_sec":${rate("tile_assign")},""" +
        s""""pip_join_rows_per_sec":${rate("pip_join")},""" +
        s""""distance_join_rows_per_sec":${rate("distance_join")},""" +
        s""""kernel_coords_per_sec":${rate("kernel_10m")}"""
    println(s"""{"metric":"spatial_pipeline_total","value":$total,"unit":"sec","queries":${obj(_.sec)},"rows":${obj(_.rows)},"reps":${obj(_.repSecs.mkString("[", ",", "]"))},"diag":${obj(_.reps.map(_.json).mkString("[", ",", "]"))},$tput,"skipped":$skip,"corpus_docs":$n,"corpus_gen_sec":$genSec,"sf":"$sfDir"}""")
    spark.stop()
  }

  // ------------------------------------------------------------- scaling

  /** A scaling job: its name and its (rows, checksum) over a session. */
  private type ScaleJob = (String, SparkSession => (Long, String))

  private final case class ScaleRow(job: String, small: RepDiag, big: RepDiag,
                                    rows: Long, checksum: String) {
    def efficiency: Double = small.sec / big.sec / 4.0
  }

  /** Runs `jobs` in order at local[baseN] and at local[4 baseN], one session
    * per rung, after one discarded local[baseN] pass (so no job's first rep
    * pays the JVM's JIT and codegen warm-up), and asserts that each job's
    * rows and checksum are equal at both. */
  private def scalingRuns(baseN: Int, conf: Seq[(String, Any)],
                          jobs: Seq[ScaleJob]): Seq[ScaleRow] = {
    def at(n: Int): Seq[(RepDiag, (Long, String))] = {
      val spark = session(Some(n), conf: _*)
      try jobs.map { case (_, run) => timeRep(run(spark)) } finally spark.stop()
    }
    at(baseN)
    val (small, big) = (at(baseN), at(4 * baseN))
    for ((((name, _), (ds, r)), (db, rb)) <- jobs.zip(small).zip(big)) yield {
      require(r == rb, s"$name: (rows, checksum) $r at local[$baseN] but $rb at local[${4 * baseN}]")
      ScaleRow(name, ds, db, r._1, r._2)
    }
  }

  /** Appends the scaling table to BASELINE.md, echoes it and prints one
    * JSON line; `value` is the first job's efficiency. */
  private def appendScalingTable(metric: String, nDocs: Long, baseN: Int,
                                 rows: Seq[ScaleRow]): Unit = {
    val bigN = 4 * baseN
    val table = (Seq("",
      s"## Scaling run ${java.time.Instant.now()} ($metric) — $nDocs docs, local[$baseN] vs local[$bigN]",
      "",
      s"| job | local[$baseN] wall s | local[$bigN] wall s | rows | checksum | rows/s @$baseN | rows/s @$bigN | efficiency | CPU s @$baseN | CPU s @$bigN |",
      "|---|---|---|---|---|---|---|---|---|---|") ++
      rows.map(r => f"| ${r.job} | ${r.small.sec}%.2f | ${r.big.sec}%.2f | ${r.rows} | ${r.checksum} | " +
        f"${(r.rows / r.small.sec).toLong} | ${(r.rows / r.big.sec).toLong} | ${r.efficiency}%.3f | " +
        f"${r.small.cpuSec}%.0f | ${r.big.cpuSec}%.0f |") ++
      Seq("",
        "Rows and checksums (order-insensitive split xxhash64 sums) are equal at",
        "both parallelism levels (asserted).  CPU s is process CPU time (user+sys,",
        "all threads): a CPU ratio near 1.0 with efficiency short of 1.0 is stall",
        "time on one host's shared memory system, not extra work.",
        "")).mkString("\n")
    java.nio.file.Files.write(java.nio.file.Paths.get("BASELINE.md"),
      table.getBytes("UTF-8"), java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.APPEND)
    println(table)
    val effs = rows.map(r => f""""${r.job}":${r.efficiency}%.4f""").mkString("{", ",", "}")
    println(f"""{"metric":"$metric","value":${rows.head.efficiency}%.4f,"unit":"ratio","efficiency":$effs,"small_cpus":$baseN,"big_cpus":$bigN,"docs":$nDocs}""")
  }

  /** The spatial scaling jobs: the numeric core from an in-memory
    * generator (pure compute scaling, the component that grows with
    * executors on a real cluster); tile assignment and PIP over the wide
    * corpus scan (on ONE host bound by the shared memory controller while
    * decoding nested span arrays) and over the narrow geo table (the
    * production layout: extract once, join over (doc_id, lon, lat)); and
    * the within-distance join, the north rule's literal headline unit. */
  private def spatialJobs(corpusPath: String, narrowPath: String,
                          distQueryMod: Long): Seq[ScaleJob] = {
    val utm = graft.geo.kernels.UtmKernel(31)
    def wide(s: SparkSession) = GeoEngine.withGeoTag(s.read.parquet(corpusPath))
    // the narrow table's 64 files are uniform, so the 8MB skew-split of
    // the wide scan only multiplies task-scheduling overhead there; the
    // split size is read at plan time
    def narrow(s: SparkSession) = {
      s.conf.set("spark.sql.files.maxPartitionBytes", 64 * 1024 * 1024)
      s.read.parquet(narrowPath)
    }
    // 4x replication (tagged ids) so the job is long enough to amortize
    // fixed stage startup at the small core count
    def narrow4(s: SparkSession) = (0 until 4).map { i =>
      narrow(s).withColumn("doc_id", concat(col("doc_id"), lit("#" + i)))
    }.reduce(_ unionByName _)
    def tile(df: DataFrame) =
      GeoEngine.rowsAndChecksum(GeoEngine.tiled(df, 12), Seq(col("doc_id"), col("cell")))
    def pip(s: SparkSession, df: DataFrame) = GeoEngine.rowsAndChecksum(
      GeoEngine.pipJoin(s, df, benchPolys), Seq(col("doc_id"), col("poly_id")))
    Seq(
      // no null filter: Catalyst would push it below the projection and
      // run the transform twice (every point is inside UTM 31's domain)
      "kernel (UTM+cell, 120M pts)" -> { s =>
        val pts = s.range(0, 120000000L, 1, s.sparkContext.defaultParallelism * 4)
          .select((pmod(col("id") * lit(0.0000103), lit(5.9)) + lit(0.05)).as("lon"),
            (pmod(col("id") * lit(0.0000107), lit(79.9)) - lit(40.0)).as("lat"))
        GeoEngine.rowsAndChecksum(pts.select(
            geo.transform(utm, forward = true, outDims = 2, col("lon"), col("lat"))
              .getField("x").as("x"),
            geo.cellId(col("lon"), col("lat"), 14).as("cell")), Seq(col("x"), col("cell")))
      },
      "tile, wide scan" -> (s => tile(wide(s))),
      "PIP, wide scan" -> (s => pip(s, wide(s))),
      "tile, narrow geo table 4x" -> (s => tile(narrow4(s))),
      "PIP, narrow geo table 4x" -> (s => pip(s, narrow4(s))),
      // ~2,000 queries: enough parallel Karney work that the job's ~2 s of
      // fixed cost (query-side scan, broadcast build) amortizes away
      "distance join (25 km)" -> { s =>
        val geoNarrow = narrow(s)
        val queries = geoNarrow
          .where(pmod(xxhash64(col("doc_id")), lit(distQueryMod)) === 0)
          .select(col("doc_id").as("query_id"), col("lon"), col("lat"))
        val data = geoNarrow.select(col("doc_id").as("data_id"), col("lon"), col("lat"))
        GeoEngine.rowsAndChecksum(
          GeoEngine.distanceJoin(queries, data, radiusMeters = 25000.0),
          Seq(col("query_id"), col("data_id")))
      })
  }

  /** The data-pipeline scaling jobs: MinHash near-dup over the full corpus
    * and the end-to-end corpus pipeline (url+exact+near-dup+CC+quality
    * gate+decontaminate+split+pack).  Both are hash-deterministic
    * (content-addressed fingerprints, no RNG), so the checksums must match
    * exactly at N and 4N. */
  private def dedupJobs(textsPath: String): Seq[ScaleJob] = {
    def survivors(s: SparkSession) = {
      // deterministic url from the content fingerprint (the corpus
      // generator has no urls), eval set as a hash-sampled slice — the
      // q_corpus_pipeline shape at bench scale.  Repetition gates off for
      // the synthetic vocabulary.
      val docs = s.read.parquet(textsPath).withColumn("url",
        concat(lit("https://site"),
          pmod(xxhash64(col("doc_id")), lit(1000)).cast("string"),
          lit(".example.com/p/"), col("doc_id")))
      val eval = docs.where(pmod(xxhash64(col("doc_id")), lit(4001)) === 0)
        .select(col("doc_id").as("eval_id"), col("text"))
      val r = graft.data.CorpusPipeline.build(docs,
        graft.data.CorpusPipeline.Config(evalSet = Some(eval),
          maxDupWordFrac = 1.0, maxTopBigramFrac = 1.0))
      GeoEngine.rowsAndChecksum(r.stages.last._2, Seq(col("doc_id")))
    }
    Seq(
      "minhash near-dup (full corpus)" -> (s => GeoEngine.rowsAndChecksum(
        Dedup.minhashLsh(s.read.parquet(textsPath), jaccardThreshold = 0.5),
        Seq(col("left_id"), col("right_id")))),
      "corpus pipeline" -> survivors)
  }

  /** N vs 4N scaling evidence (BASELINE.md protocol); `dedup` runs the
    * data-pipeline jobs instead of the spatial one.  Use N = 2 on a
    * 16-core host: 8 vs 32 measures hyperthread contention, not scaling. */
  private def scaling(nDocs: Long, baseN: Int, dedup: Boolean): Unit = {
    val corpusPath = s"/tmp/graft_bench_corpus_$nDocs"
    val narrowPath = corpusPath + "_geo"
    val textsPath = corpusPath + "_texts"
    val prep = session(None)
    try {
      materialize(corpusPath)(writeCorpus(prep, nDocs))
      if (dedup) {
        materialize(textsPath)(spanText(prep.read.parquet(corpusPath))
          .repartition(64).write.mode("overwrite").parquet(_))
      } else
        materialize(narrowPath)(GeoEngine.withGeoTag(prep.read.parquet(corpusPath))
          .select("doc_id", "lon", "lat")
          .repartition(64).write.mode("overwrite").parquet(_))
    } finally prep.stop()

    if (dedup) {
      // dedup shuffles are DATA-sized, not core-sized: the banded minhash
      // exchange carries docs x bands rows, and `partitions = cores` makes
      // multi-GB sort partitions that spill at both rungs, so the ratio
      // would measure the disk.  Same value at BOTH parallelism levels;
      // AQE coalesces the small stages.
      val rows = scalingRuns(baseN, Seq(
        "spark.sql.shuffle.partitions" -> 96,
        "spark.sql.files.maxPartitionBytes" -> 64 * 1024 * 1024), dedupJobs(textsPath))
      appendScalingTable("dedup_scaling_efficiency", nDocs, baseN, rows)
    } else {
      val rows = scalingRuns(baseN, Seq(
        // split the skewed hotspot partition files into many input tasks
        "spark.sql.files.maxPartitionBytes" -> 8 * 1024 * 1024),
        spatialJobs(corpusPath, narrowPath, math.max(1L, nDocs / 4000)))
      val Seq(_, wideTile, widePip, narrowTile, narrowPip, _) = rows
      require(narrowTile.rows == 4 * wideTile.rows && narrowPip.rows == 4 * widePip.rows,
        "narrow-layout results differ from the wide scan!")
      appendScalingTable("scaling_efficiency", nDocs, baseN, rows)
    }
  }

  // ------------------------------------------------------- corpus, stats

  /** Times one pass of `f` (its output rows) over `n` input rows and
    * prints the job's JSON line. */
  private def report(label: String, n: Long)(f: => Long): Unit = {
    val (d, rows) = timeRep(f)
    println(f"""{"job":"$label","sec":${d.sec}%.2f,"rows":$rows,"rows_per_s":${(rows / d.sec).toLong},"input_rows":$n,"input_per_s":${(n / d.sec).toLong},"diag":${d.json}}""")
  }

  /** The corpus-assembly trio (paragraph dedup, stratified sampling,
    * sequence packing), url / incremental / semantic / substring dedup,
    * DSIR and LM scoring, the full corpus build, the storage-layout A/B,
    * the tile pyramid and the temporal ops, on a synthetic N-doc corpus.
    *
    * Corpus shape: every doc has a boilerplate header paragraph shared by
    * n/1000 docs (the C4 boilerplate situation), a unique body paragraph
    * with 1..37 filler tokens, and a unique trailer — so paragraph dedup
    * strips ~1/3 of paragraphs, sampling strata are 5 synthetic langs,
    * and packing sees realistic token-count variance. */
  private def corpus(n: Long): Unit = {
    val spark = session(None)
    val docs = spark.range(n).select(col("id").as("doc_id"),
      concat_ws("\n",
        concat(lit("shared boilerplate header variant "), pmod(col("id"), lit(1000))),
        concat(trim(repeat(lit("tok "), (pmod(col("id"), lit(37)) + 1).cast("int"))),
          lit(" body "), col("id")),
        concat(lit("trailer of document "), col("id"))).as("text"),
      concat(lit("l"), pmod(col("id"), lit(5))).as("lang"))

    report("paragraph_dedup", n)(
      graft.data.Corpus.paragraphDedup(docs).count())
    report("stratified_sample", n)(
      graft.data.Corpus.stratifiedSample(docs, "lang", n = 100000).count())
    report("pack_sequences", n)(
      graft.data.Corpus.packSequences(docs, budget = 2048).count())

    // URL-level dedup at N urls: the plant makes ~n/20 dup groups of ~20
    // messy spellings each (case/www/port/tracking variants of the same
    // canonical url) — the realistic crawl shape where most urls are
    // unique and dups cluster
    val urls = spark.range(n).select(col("id").as("doc_id"),
      concat(
        when(pmod(col("id"), lit(4)) === 0, lit("HTTPS://WWW."))
          .when(pmod(col("id"), lit(4)) === 1, lit("https://www."))
          .when(pmod(col("id"), lit(4)) === 2, lit("https://"))
          .otherwise(lit("HTTPS://")),
        lit("host"), pmod(col("id"), lit(100000)), lit(".example.com/p/"),
        pmod(col("id"), lit(math.max(1L, n / 20))),
        when(pmod(col("id"), lit(2)) === 0, lit("?utm_source=x"))
          .otherwise(lit(""))).as("url"))
    report("url_dedup", n)(
      graft.data.UrlOps.dedupByUrl(urls).count())

    // incremental (snapshot) dedup at N new docs vs an N/2-doc prior
    // snapshot with an N/50 planted overlap (snapshot ids ending the
    // doc-id range): the Bloom prefilter lets ~98-99% of the new batch
    // exit map-side; the exact anti-join sees only the overlap + false
    // positives.  Expected survivors: N - N/50.
    val snapshot = spark.range(n / 2).select(
      (col("id") + lit(2 * n)).as("doc_id"),
      when(pmod(col("id"), lit(5)) === 0, // every 5th snapshot doc = a new doc's text
        concat_ws("\n",
          concat(lit("shared boilerplate header variant "),
            pmod(col("id") * 10, lit(1000))),
          concat(trim(repeat(lit("tok "),
            (pmod(col("id") * 10, lit(37)) + 1).cast("int"))),
            lit(" body "), col("id") * 10),
          concat(lit("trailer of document "), col("id") * 10)))
        .otherwise(concat(lit("snapshot-only text "), col("id"))).as("text"))
    report("incremental_dedup", n)(
      graft.data.Dedup.incrementalDedup(docs, snapshot,
        expectedOldDocs = n / 2).count())

    // semantic dedup at N/10 vectors: clusters sized so occupancy stays
    // ~250/cluster (the within-cluster pairwise cost the paper accepts)
    val nVec = math.max(n / 10, 1000L)
    val vecs = spark.range(nVec).select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(63)), d =>
        (pmod(xxhash64(col("id") * lit(64) + d), lit(2001)).cast("double")
          / lit(1000.0) - lit(1.0)).cast("float")).as("embedding"))
    // filter on the kept flag: a bare count() would let the optimizer
    // eliminate the distinct-keyed outer join and skip the pairwise work
    report("semantic_dedup", nVec)(
      graft.data.Dedup.semanticDedup(vecs,
          nClusters = math.max(16, (nVec / 250).toInt), threshold = 0.8)
        .where(col("kept")).count())

    // substring-duplicate spans at N docs: every doc gets a ~12-token
    // unique body, and 1 in 10 docs embeds one of 100 shared 20-token
    // passages — the boilerplate-passage situation ExactSubstr dedup
    // exists for.  Cost profile: one window-hash explosion per scan
    // (~N x 32 hash rows through partial aggregation), duplicate rows
    // only through the join and span merge.
    val spanDocs = spark.range(n).select(col("id").as("doc_id"),
      concat(
        array_join(transform(sequence(lit(0), lit(11)),
          i => concat(lit("b"), pmod(xxhash64(col("id") * 13 + i),
            lit(1000000000L)))), " "),
        when(pmod(col("id"), lit(10)) === 0,
          concat(lit(" "), array_join(transform(sequence(lit(0), lit(19)),
            i => concat(lit("p"), pmod(col("id"), lit(1000)), lit("x"), i)),
            " "))).otherwise(lit(""))).as("text"))
    report("duplicate_spans", n)(
      graft.data.Dedup.duplicateSpans(spanDocs, window = 8).count())

    // DSIR at N docs: weight estimation (two bucket-count aggregates over
    // ~N x 30 exploded bigrams) + one plan-constant scoring scan; target =
    // the l0 language stratum (N/5 docs)
    report("dsir_score", n) {
      val w = graft.data.Corpus.dsirWeights(
        docs, docs.where(col("lang") === "l0"), n = 2, buckets = 4096)
      docs.select(graft.data.Corpus.dsirScore(w, 2, 4096)(col("text")).as("s"))
        .agg(sum("s")).head
      n
    }

    // hashed-bigram LM quality scoring at N docs: model training (two
    // bucket-count aggregates over the l0 stratum) + one plan-constant
    // scoring scan over the full corpus
    report("lm_logprob", n) {
      val m = graft.data.Corpus.lmTrain(
        docs.where(col("lang") === "l0"), buckets = 65536)
      docs.select(graft.data.Corpus.lmLogProbSum(m)(col("text")).as("lp"))
        .agg(sum("lp")).head
      n
    }

    // the full corpus build end-to-end (url dedup -> exact dedup ->
    // minhash+CC near-dedup -> quality -> split -> pack) at N docs, timed
    // as ONE action on the packed output — the pipeline a training-data
    // team actually ships.  Repetition gates off: the synthetic text's
    // tiny vocabulary would trip caps tuned for natural prose.
    val pipeDocs = docs.join(urls, "doc_id")
    report("corpus_pipeline", n)(
      graft.data.CorpusPipeline.build(pipeDocs,
        graft.data.CorpusPipeline.Config(
          maxDupWordFrac = 1.0, maxTopBigramFrac = 1.0))
        .packed.count())

    // storage-layout A/B: the same N-point table written plain (random
    // partitioning) vs cell-clustered (range-partition + sort on cell),
    // then an identical ~10%-selectivity cell-range scan on each — the
    // clustered write's one range exchange buys footer min/max pruning
    // for every later spatial predicate
    val layoutPts = spark.range(n).select(col("id"),
      (pmod(col("id") * lit(0.6180339887), lit(360.0)) - lit(180.0)).as("lon"),
      (pmod(col("id") * lit(0.7548776662), lit(170.0)) - lit(85.0)).as("lat"))
    val tmpDir = java.nio.file.Files.createTempDirectory("graft-layout").toString
    report("layout_write_plain", n) {
      GeoEngine.tiled(layoutPts, 8)
        .write.mode("overwrite").parquet(s"$tmpDir/plain"); n
    }
    report("layout_write_clustered", n) {
      GeoEngine.writeCellClustered(
        layoutPts, 8, s"$tmpDir/clustered", numFiles = 64); n
    }
    val qs = spark.read.parquet(s"$tmpDir/clustered")
      .stat.approxQuantile("cell", Array(0.45, 0.55), 0.001)
    val (qLo, qHi) = (qs(0).toLong, qs(1).toLong)
    report("layout_scan_plain", n)(
      spark.read.parquet(s"$tmpDir/plain")
        .where(col("cell").between(qLo, qHi)).count())
    report("layout_scan_clustered", n)(
      spark.read.parquet(s"$tmpDir/clustered")
        .where(col("cell").between(qLo, qHi)).count())
    // manifest layer on the same clustered table: commit cost (footer
    // reads only) and the manifest-pruned variant of the same scan —
    // the file list shrinks on the DRIVER before any task exists
    report("layout_manifest_commit", n) {
      graft.geo.engine.GeoTable.writeManifest(spark, s"$tmpDir/clustered"); 64L
    }
    report("layout_scan_manifest", n) {
      val (df, nSel, nTot) =
        graft.geo.engine.GeoTable.readRanges(spark, s"$tmpDir/clustered",
          Array((qLo, qHi + 1)))
      val c = df.count()
      println(s"  manifest pruned to $nSel/$nTot files")
      c
    }
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmpDir))

    // tile pyramid at N points, 9 zoom levels in one scan+shuffle
    val pts = spark.range(n).select(
      (pmod(col("id") * lit(0.6180339887), lit(360.0)) - lit(180.0)).as("lon"),
      (pmod(col("id") * lit(0.7548776662), lit(170.0)) - lit(85.0)).as("lat"))
    report("tile_pyramid_l4_12", n)(
      GeoEngine.tilePyramid(pts, 4, 12).count())

    // temporal ops at N events over ~N/2000 keys (~2000 events/key, a
    // busy-device trajectory shape), timestamps quasi-randomly spread
    // over ~46 days so 30-minute sessions actually split.  asof: half
    // the events enrich against the other half — one keyed shuffle of
    // the union, running-last window, no range explosion regardless of
    // per-key density (the naive range join would be ~2000x2000 per key).
    val nKeys = math.max(n / 2000L, 16L)
    val events = spark.range(n).select(col("id").as("event_id"),
      pmod(xxhash64(col("id")), lit(nKeys)).as("user_id"),
      timestamp_seconds(pmod(col("id") * lit(2654435761L), lit(4000000L)))
        .as("ts"),
      (pmod(col("id"), lit(1000)) / lit(10.0)).as("value"))
    report("asof_join", n) {
      val clicks = events.where(pmod(col("event_id"), lit(2)) === 0)
      val views = events.where(pmod(col("event_id"), lit(2)) === 1)
      graft.data.AsOf.asofJoin(clicks, views, Seq("user_id"),
        tolerance = "30 minutes", tiebreak = "event_id").count()
    }
    report("sessionize", n)(
      graft.data.Sessions.sessionize(events, Seq("user_id"),
          gap = "30 minutes", tiebreak = "event_id", dropNullTimes = true)
        .groupBy(col("user_id"), col("session_seq"))
        .agg(count(lit(1)).as("n_events")).count())
    spark.stop()
  }

  /** The spatial-statistics suite on a synthetic N-point golden-ratio
    * scatter — the ops whose design claim is "only the first aggregation
    * touches the corpus; every later stage runs on the tiny cell frame". */
  private def stats(n: Long): Unit = {
    val spark = session(None)
    // worldwide quasi-random scatter; |lat| <= 85 keeps webmerc finite
    val pts = spark.range(n).select(col("id").as("pt_id"),
      (pmod(col("id") * lit(0.6180339887), lit(360.0)) - lit(180.0)).as("lon"),
      (pmod(col("id") * lit(0.7548776662), lit(170.0)) - lit(85.0)).as("lat"))
    val sphereM2 = 4.0 * math.Pi * 6371007.18 * 6371007.18

    // hot-spot z over ~100 km hexes: one N-row shuffle to ~60k cells,
    // then disk-explode + self-join on the cell frame only
    report("gi_star_hex_100km", n)(
      SpatialStats.giStarHex(pts, sizeMeters = 100000.0).count())
    report("local_moran_hex_100km", n)(
      SpatialStats.localMoranHex(pts, sizeMeters = 100000.0).count())

    // Mann-Kendall over 250 km hexes x ~46 day bins: the N-row scan
    // collapses to the (cell, bin) cube, the T(T-1)/2 pair frame and the
    // Sen median windows never see the corpus
    val tsPts = pts.select(col("pt_id"), col("lon"), col("lat"),
      timestamp_seconds(pmod(col("pt_id") * lit(2654435761L), lit(4000000L)))
        .as("ts"))
    report("mann_kendall_hex_250km_day", n)(
      SpatialStats.mannKendallHex(tsPts, sizeMeters = 250000.0,
        binSeconds = 86400L).count())
    // full emerging-hot-spot composition on the same cube: space-time
    // Gi* landscape + z-series MK + category chain, all on the
    // aggregate frame after the one corpus shuffle
    report("emerging_hex_250km_day", n)(
      SpatialStats.emergingHotSpotsHex(tsPts, sizeMeters = 250000.0,
        binSeconds = 86400L).count())
    // Knox space-time interaction at 10 km / 30 min on a 1/100 sample
    // (the three pair streams are corpus-quadratic in their marginals;
    // the statistic is designed for event sets, not the full corpus)
    report("knox_10km_30min_100k", n)(
      SpatialStats.knoxChord(
        tsPts.where(pmod(col("pt_id"), lit(100)) === 0),
        GeoEngine.maxChord2For(10000.0), 1800L).count())

    // Ripley's K at a 2.5/5/10 km ladder: ~0.02 pts/km^2 worldwide puts
    // ~6 true neighbors per point inside 10 km — tens of millions of
    // candidate pairs from the single cell-cover self-join
    report("ripleys_k_10km", n) {
      SpatialStats.ripleysK(pts, Seq(2500.0, 5000.0, 10000.0), sphereM2)
        .collect().map(_.getLong(2)).sum
    }

    // single-row global diagnostics on the same 100 km cell frame: the
    // corpus shuffle dominates, the statistic is one aggregate row
    report("quadrat_hex_100km", n)(
      SpatialStats.quadratHex(pts, sizeMeters = 100000.0).count())
    report("general_g_hex_100km", n)(
      SpatialStats.generalGHex(pts, sizeMeters = 100000.0).count())
    // IDW surface at 100 km cells / 300 km radius: kde-shaped disk fan
    // on the aggregate frame
    report("idw_hex_100km_300km", n)(
      SpatialStats.idwHex(pts.withColumn("v", pmod(col("pt_id"), lit(97))),
        sizeMeters = 100000.0, radiusMeters = 300000.0,
        valueCol = "v").count())
    // Clark-Evans mean-NN statistic, 10 km search bound: the
    // distance-join candidate stream (~6 neighbors/point) collapsed to
    // one exact-long row
    report("ann_stat_chord_10km", n)(
      SpatialStats.annStatChord(pts, sphereM2,
        GeoEngine.maxChord2For(10000.0)).count())
    // CSR envelope at 10 km on a 1/100 sample x 19 sims: the whole
    // ensemble (observed + 19 null patterns, ~2M points) rides one
    // (sim, cell)-keyed cover join
    report("l_envelope_10km_19sims_100k", n)(
      SpatialStats.lEnvelope(
        pts.where(pmod(col("pt_id"), lit(100)) === 0),
        Seq(5000.0, 10000.0), sphereM2, nSims = 19).count())
    // Hausdorff trajectory join: n/10 points as 20-point tracks, two
    // tracks per route class ~18 km apart with a ~2 km twin; candidate
    // pairs are class-local so the exact bipartite stage is bounded
    report("hausdorff_join_2km", n) {
      val nT = n / 10
      val trk = spark.range(nT).select(
        (col("id") % (nT / 20)).as("traj_id"),
        col("id"))
        .select(col("traj_id"),
          (pmod(pmod(col("traj_id"), lit(25000)) * 0.18, lit(360.0))
            - 180.0 + pmod(col("id"), lit(20)) * 0.0025 +
            expr("traj_id DIV 25000") * 0.00055).as("lon"),
          (pmod(pmod(col("traj_id"), lit(25000)) * 7, lit(120)) * 0.7
            - 42.0 + pmod(col("id"), lit(20)) * 0.001 +
            expr("traj_id DIV 25000") * 0.0006).as("lat"))
      GeoEngine.hausdorffJoin(trk, maxDistMeters = 2000.0).count()
    }
    spark.stop()
  }

  // ----------------------------------------------------------------- tin

  /** Single-thread tinshift kernel rate, three passes over 4M seeded
    * points, on a synthetic 28x28-vertex grid TIN over [0,270]x[0,270] km:
    * 27*27*2 = 1458 triangles, constant small shift. */
  private def tin(): Unit = {
    val g = 28
    val sb = new StringBuilder
    sb.append("""{"file_type":"triangulation_file","format_version":"1.1","transformed_components":["horizontal"],""")
    sb.append(""""vertices_columns":["source_x","source_y","target_x","target_y"],""")
    sb.append(""""triangles_columns":["idx_vertex1","idx_vertex2","idx_vertex3"],"vertices":[""")
    for (j <- 0 until g; i <- 0 until g) {
      val x = i * 10000.0; val y = j * 10000.0
      if (i > 0 || j > 0) sb.append(',')
      sb.append(s"[$x,$y,${x + 93.5},${y - 41.2}]")
    }
    sb.append("],\"triangles\":[")
    var first = true
    for (j <- 0 until g - 1; i <- 0 until g - 1) {
      val v = j * g + i
      if (!first) sb.append(','); first = false
      sb.append(s"[$v,${v + 1},${v + g}],[${v + 1},${v + g + 1},${v + g}]")
    }
    sb.append("]}")
    val dir = java.nio.file.Files.createTempDirectory("tinbench")
    java.nio.file.Files.write(dir.resolve("synth_tin.json"), sb.toString.getBytes("UTF-8"))
    graft.geo.grids.Grids.addSearchDir(dir.toString)
    val k = graft.geo.proj.ProjString.parse("+proj=tinshift +file=synth_tin.json")
    val n = 4000000
    for (pass <- 0 until 3) {
      val (d, sum) = timeRep {
        var sum = 0.0
        var s = 12345L
        var i = 0
        while (i < n) {
          s = s * 48271 % 2147483647L
          val x = (s % 270000).toDouble
          s = s * 48271 % 2147483647L
          val y = (s % 270000).toDouble
          val v = Array(x, y, 0.0, 0.0)
          if (k.fwd(v)) sum += v(0)
          i += 1
        }
        sum
      }
      println(f"pass $pass: ${n / d.sec / 1e6}%.2f M pts/s (${d.sec}%.2f s) sum=$sum%.1f")
    }
  }

  def main(args: Array[String]): Unit = args.toList match {
    case Nil => pipeline()
    case "scaling" :: rest =>
      scaling(rest.lift(0).fold(8000000L)(_.toLong), rest.lift(1).fold(2)(_.toInt),
        dedup = rest.lift(2).contains("dedup"))
    case "corpus" :: rest => corpus(rest.headOption.fold(10000000L)(_.toLong))
    case "stats" :: rest => stats(rest.headOption.fold(10000000L)(_.toLong))
    case List("tin") => tin()
    case _ => sys.error(
      "usage: graft.Bench [scaling [nDocs] [N] [dedup] | corpus [n] | stats [n] | tin]")
  }
}
