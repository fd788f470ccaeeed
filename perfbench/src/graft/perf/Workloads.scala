package graft.perf

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.geo.cells.CellIndex
import graft.geo.engine.GeoEngine
import graft.geo.expr.{PointEvaluator, geo}
import graft.geo.geodesic.Geodesic
import graft.geo.grids.Grids
import graft.geo.kernels.{IOUnits, PointKernel}
import graft.geo.math.{ProjMath => M}
import graft.geo.proj.ProjString
import graft.geo.synth.DocCorpus
import graft.perf.Main.{check, median, summary}

/** Single-thread timing loops for the layer probes. */
object Micro {
  @volatile private var sink = 0.0

  /** Nanoseconds per call of `op` over 0 until n: two warm-up sweeps, then
    * the median of three timed sweeps. */
  def nsPerCall(n: Int)(op: Int => Double): Double = {
    def sweep(): Double = {
      var acc = 0.0; var i = 0
      while (i < n) { acc += op(i); i += 1 }
      acc
    }
    sink += sweep() + sweep()
    median((1 to 3).map { _ =>
      val t0 = System.nanoTime()
      sink += sweep()
      (System.nanoTime() - t0).toDouble / n
    })
  }

  /** Karney inverse on pairs of consecutive corpus points. */
  def geodesicNs(pts: CorpusPoints): Double = {
    val n = math.min(pts.n - 1, 50000)
    nsPerCall(n)(i => Geodesic.WGS84.distance(pts.lat(i), pts.lon(i), pts.lat(i + 1), pts.lon(i + 1)))
  }

  def cellIdNs(lon: Array[Double], lat: Array[Double]): Double =
    nsPerCall(math.min(lon.length, 200000))(i => CellIndex.cellId(lon(i), lat(i), 12).toDouble)
}

/** One coordinate operation of the transform workload. */
final case class Pipe(name: String, proj: String, gen: CoordGen, withCell: Boolean = false)

final class TransformWorkload(ctx: Ctx) extends Workload {
  /** 10M coords a pass: at 4M the per-job driver overhead left a quarter
    * of the cores idle and dominated the pass-to-pass noise. */
  val CoordsPerPipe = 2500000L
  val Parts: Int = ctx.cores * 4
  val GridName = "synth_ntv2.gsb"
  val GridExtent = Box(-5.5, 41.0, 10.0, 52.0)
  val GridStep = 0.1
  val SampleStride = 9973L

  private def salt(i: Int) = ctx.seed * 1000003L + 16L * i
  private val nowhere = Box(0, 0, 0, 0)
  val pipes = Seq(
    Pipe("webmerc", "+proj=webmerc +ellps=WGS84",
      CoordGen(salt(0), Box(-180, -85, 180, 85), nowhere, 0.0), withCell = true),
    Pipe("utm", "+proj=utm +zone=31 +ellps=WGS84",
      CoordGen(salt(1), Box(-3, -80, 9, 84), nowhere, 0.0)),
    Pipe("helmert", "+proj=pipeline +step +proj=cart +ellps=WGS84 " +
      "+step +proj=helmert +x=-81.0703 +y=-89.3603 +z=-115.7526 " +
      "+rx=-0.48488 +ry=-0.02436 +rz=-0.41321 +s=-0.540645 +convention=coordinate_frame " +
      "+step +inv +proj=cart +ellps=intl",
      CoordGen(salt(2), Box(-180, -89, 180, 89), nowhere, 0.0)),
    // 2% of the points fall east of the grid: the kernel must null them
    Pipe("gridshift", s"+proj=hgridshift +grids=$GridName",
      CoordGen(salt(3), Box(GridExtent.west + 0.01, GridExtent.south + 0.01,
        GridExtent.east - 0.01, GridExtent.north - 0.01),
        Box(GridExtent.east + 0.5, GridExtent.south, GridExtent.east + 2.0, GridExtent.north),
        0.02)))

  private var kernels: Map[String, PointKernel] = Map.empty
  private var setups = 0

  def itemMetric = "coords_per_s"
  /** Pass time still falls for the first few passes. */
  def warmups = 6

  /** A smooth seeded shift field of a few arc-seconds. */
  private def shift(lon: Double, lat: Double): (Double, Double) = {
    val ph = (ctx.seed % 1000) * 0.001 * 2 * math.Pi
    (2.0 + math.sin(math.toRadians(lon) * 7 + ph), -1.5 + math.cos(math.toRadians(lat) * 5 - ph))
  }

  def setup(): Unit = {
    // a fresh directory per set-up, so the grid load below is never cached
    val dir = new java.io.File(ctx.work, s"grids/s$setups")
    setups += 1
    val (_, bytes) = ctx.timed("grids.synth")(
      Ntv2.write(new java.io.File(dir, GridName), GridExtent, GridStep, shift))
    ctx.recordSetup("grids.bytes", bytes.toDouble)
    Grids.addSearchDir(dir.getPath)
    val (loadS, _) = ctx.timed("grids.load")(Grids.hgridSets(GridName))
    ctx.recordSetup("grids.load_ms", loadS * 1e3)
    val (parseS, ks) = ctx.timed("proj.parse")(pipes.map(p => p.name -> ProjString.parse(p.proj)))
    ctx.recordSetup("proj.parse_ms", parseS * 1e3)
    kernels = ks.toMap
  }

  /** Pipeline `p` over the ids 0 until CoordsPerPipe by `step`. */
  private def frame(p: Pipe, step: Long = 1): DataFrame = {
    val pts = ctx.spark.range(0, CoordsPerPipe, step, Parts)
      .select(col("id"), p.gen.lonCol.as("lon"), p.gen.latCol.as("lat"))
    val out = pts.select(col("id"), col("lon"), col("lat"),
      geo.transform(kernels(p.name), forward = true, outDims = 2, col("lon"), col("lat")).as("p"))
    if (p.withCell) out.withColumn("cell", geo.cellId(col("lon"), col("lat"), 12)) else out
  }

  def pass(): Map[String, Out] = pipes.flatMap { p =>
    ctx.job(s"transform.${p.name}") {
      val keys = Seq(col("p.x"), col("p.y")) ++ (if (p.withCell) Seq(col("cell")) else Nil)
      summary(frame(p), count(col("p")), keys: _*)
    }
  }.toMap

  def items: Long = CoordsPerPipe * pipes.length

  /** PointKernel.fwd on one degree pair, with PointEvaluator's unit rules. */
  private def direct(k: PointKernel, lon: Double, lat: Double): Option[(Double, Double)] = {
    val inRad = k.left == IOUnits.Radians
    val v = Array(if (inRad) lon * M.DegToRad else lon, if (inRad) lat * M.DegToRad else lat,
      0.0, Double.NaN)
    if (!k.fwd(v)) None
    else if (k.right == IOUnits.Radians) Some((v(0) * M.RadToDeg, v(1) * M.RadToDeg))
    else Some((v(0), v(1)))
  }

  def checks(ref: Map[String, Out]): Seq[(String, () => Unit)] = pipes.flatMap { p =>
    Seq(
      s"transform.${p.name}.nulls" -> (() => {
        val expected = if (p.gen.outsideShare == 0) 0L
          else (0L until CoordsPerPipe).count(p.gen.isOutside).toLong
        val got = CoordsPerPipe - ref(s"transform.${p.name}").rows
        check(got == expected, s"$got nulls, expected $expected")
      }),
      s"transform.${p.name}.sample" -> (() => {
        val rows = frame(p, SampleStride).select(col("id"), col("lon"), col("lat"), col("p.x"), col("p.y")).collect()
        check(rows.length == ((CoordsPerPipe - 1) / SampleStride + 1), s"${rows.length} sampled rows")
        for (r <- rows) {
          val id = r.getLong(0)
          check((r.getDouble(1), r.getDouble(2)) == p.gen.lonLat(id), s"input of id $id differs")
          val want = direct(kernels(p.name), r.getDouble(1), r.getDouble(2))
          val got = if (r.isNullAt(3)) None else Some((r.getDouble(3), r.getDouble(4)))
          check(got == want, s"id $id: got $got, PointKernel.fwd gives $want")
        }
      }))
  }

  def probes(wallS: Double, execRunS: Double): Map[String, Double] = {
    val n = 100000
    val ins = pipes.map { p =>
      val pts = (0 until n).map(i => p.gen.lonLat(i.toLong))
      p.name -> (pts.map(_._1).toArray, pts.map(_._2).toArray)
    }.toMap
    val kernelNs = pipes.map { p =>
      val k = kernels(p.name)
      val (lon, lat) = ins(p.name)
      val s = if (k.left == IOUnits.Radians) M.DegToRad else 1.0
      val (x, y) = (lon.map(_ * s), lat.map(_ * s))
      val v = new Array[Double](4)
      s"kernels.${p.name}_ns" -> ctx.tracer.span(s"kernels.${p.name}") {
        Micro.nsPerCall(n) { i =>
          v(0) = x(i); v(1) = y(i); v(2) = 0.0; v(3) = Double.NaN
          if (k.fwd(v)) v(0) else 0.0
        }
      }
    }
    val evalNs = ctx.tracer.span("expr.evaluator") {
      median(pipes.map { p =>
        val ev = new PointEvaluator(kernels(p.name), true, 2)
        val (lon, lat) = ins(p.name)
        Micro.nsPerCall(n) { i =>
          val r = ev.eval(lon(i), lat(i), 0.0, Double.NaN)
          if (r == null) 0.0 else r.getDouble(0)
        }
      })
    }
    val (wLon, wLat) = ins("webmerc")
    (kernelNs ++ Seq(
      "expr.evaluator_ns" -> evalNs,
      "expr.stage_ns_per_coord" -> execRunS * 1e9 / items,
      "cells.cellid_ns" -> ctx.tracer.span("cells.cellid")(Micro.cellIdNs(wLon, wLat)))).toMap
  }

  def inputs: Seq[(String, Any)] = Seq(
    "coords_per_pipeline" -> CoordsPerPipe, "pipelines" -> pipes.map(_.name).mkString(","),
    "partitions" -> Parts, "grid_extent_deg" -> GridExtent, "grid_step_deg" -> GridStep,
    "grid_outside_share" -> 0.02)
}

/** kNN over the seeded corpus geometry.  Its traced run also probes the
  * corpus layers no kept workload times on their own ([[CorpusLayers]]),
  * on the first ProbeDocs docs. */
final class KnnWorkload(ctx: Ctx) extends Workload {
  /** Dense enough that hotspot queries find k neighbours in pass 1. */
  val Docs = 1000000
  /** Queries per hotspot, in `CorpusPoints.hotspots` order, and in the
    * background: DocCorpus's weights times 200.  A fixed mix, so that a
    * seed moves where the queries lie but not how many are background
    * queries, which escalate. */
  val HotspotQueries = Seq(60, 30, 20, 16, 14, 10)
  val BackgroundQueries = 50
  val Queries: Int = HotspotQueries.sum + BackgroundQueries
  val ProbeDocs = 100000
  val K = 10
  val Level = 12
  val CheckedQueries = 16

  private lazy val points = new CorpusPoints(ctx.seed, Docs)
  private var geoDocs: DataFrame = _
  /** The answer of the latest pass: query -> (data id, rank, metres) by rank. */
  private var answer: Map[String, Seq[(String, Int, Double)]] = Map.empty

  /** The first docs, in id order, that fill each query stratum. */
  private lazy val queryIds: Seq[Int] = {
    val quota = (HotspotQueries :+ BackgroundQueries).toArray
    val ids = Seq.newBuilder[Int]
    var id = 0
    while (quota.exists(_ > 0)) {
      val (lon, lat) = DocCorpus.lonLat(ctx.seed, id.toLong)
      val h = CorpusPoints.hotspotOf(lon, lat)
      val stratum = if (h >= 0) h else quota.length - 1
      if (quota(stratum) > 0) { quota(stratum) -= 1; ids += id }
      id += 1
    }
    ids.result()
  }

  def itemMetric = "knn_queries_per_s"
  /** The first pass takes ~20 s; the next ones still speed up while the
    * JIT compiles the driver's planning code (~13 s of compiler time in
    * pass 2, ~5 s in pass 5, ~2 s in pass 10), so the timed passes come
    * from the slowly falling tail: the first of them reads ~5% above the
    * other two, and their median moves little with a fourth warm-up.  A
    * traced run, whose metrics have no bound, makes two, so that it stays
    * well inside the time limit. */
  def warmups: Int = if (ctx.tracer.enabled) 2 else 3

  /** The corpus geometry straight from DocCorpus, cached: the kNN layer
    * never sees the spans. */
  def setup(): Unit = {
    if (geoDocs != null) geoDocs.unpersist(blocking = true)
    import ctx.spark.implicits._
    val seed = ctx.seed
    geoDocs = ctx.spark.range(0, Docs.toLong, 1, ctx.cores * 2).map { id =>
      val (lon, lat) = DocCorpus.lonLat(seed, id)
      (f"doc$id%012d", lon, lat)
    }.toDF("doc_id", "lon", "lat")
    val (s, _) = ctx.timed("synth.cache_fill") { geoDocs.cache(); geoDocs.count() }
    ctx.recordSetup("synth.cache_fill_s", s)
  }

  private def data = geoDocs.select(col("doc_id").as("data_id"), col("lon"), col("lat"))
  private def firstDocs(n: Int) = geoDocs.where(col("doc_id") < lit(f"doc$n%012d"))
  private def queries = geoDocs.where(col("doc_id").isin(queryIds.map(i => f"doc$i%012d"): _*))
    .select(col("doc_id").as("query_id"), col("lon"), col("lat"))

  /** The Q x k answer is small, so a pass collects it, as a caller would. */
  def pass(): Map[String, Out] =
    ctx.job("engine.knn") {
      val rows = GeoEngine.knnJoin(queries, data, K, Level)
        .select("query_id", "data_id", "rank", "dist").collect()
      answer = rows.groupBy(_.getString(0)).map { case (q, rs) =>
        q -> rs.map(r => (r.getString(1), r.getInt(2), r.getDouble(3))).sortBy(_._2).toSeq
      }
      Out(rows.length, rows.map(r => (r.getString(0), r.getString(1), r.getInt(2)).hashCode & 0x7fffffffL).sum)
    }.toMap

  def items: Long = Queries

  def checks(ref: Map[String, Out]): Seq[(String, () => Unit)] = Seq(
    "knn.shape" -> (() => {
      check(answer.size == Queries, s"${answer.size} queries answered of $Queries")
      for ((q, rs) <- answer) check(rs.map(_._2) == (1 to K), s"query $q ranks ${rs.map(_._2)}")
    }),
    "knn.brute_force" -> (() => {
      for (q <- CorpusLayers.sample(ctx.seed, queryIds.map(points.docId(_)), CheckedQueries)) {
        val want = nearest(points.index(q))
        val have = answer.getOrElse(q, Nil).map(r => (r._1, r._3))
        check(have.map(_._1) == want.map(_._1) &&
          have.zip(want).forall { case (a, b) => math.abs(a._2 - b._2) <= 1e-6 },
          s"query $q: got ${have.take(3)}..., brute force ${want.take(3)}...")
      }
    }))

  /** Exact geodesic k nearest of point q over the whole corpus: every
    * point within 1.05x the kth-smallest squared chord (wider than the
    * ellipsoid's reorder band), then Karney with (dist, id) ordering. */
  private def nearest(q: Int): Seq[(String, Double)] = {
    val (x, y, z) = CorpusPoints.unitXyz(points.lon(q), points.lat(q))
    val c2 = Array.tabulate(points.n)(i => points.chord2(i, x, y, z))
    val smallest = scala.collection.mutable.PriorityQueue.empty[Double]
    for (d <- c2) if (smallest.size < K) smallest += d
      else if (d < smallest.head) { smallest.dequeue(); smallest += d }
    val kth = smallest.head
    (0 until points.n).filter(i => c2(i) <= kth * 1.05 + 1e-12)
      .map(i => (points.docId(i),
        Geodesic.WGS84.distance(points.lat(q), points.lon(q), points.lat(i), points.lon(i))))
      .sortBy { case (id, d) => (d, id) }.take(K)
  }

  def probes(wallS: Double, execRunS: Double): Map[String, Double] = {
    // pass 1 of knnJoin rebuilt from the public pieces: every query's
    // ring-1 cell neighbourhood at Level, joined to the tiled data side
    val q = queries.select(col("query_id"), col("lon").as("q_lon"), col("lat").as("q_lat"),
      explode(geo.cellNeighbors(geo.cellId(col("lon"), col("lat"), Level), 1)).as("cand_cell"))
    val d = GeoEngine.tiled(data, Level).select(col("data_id"), col("lon").as("d_lon"),
      col("lat").as("d_lat"), col("cell").as("cand_cell"))
    val (joinS, pairs) = ctx.timed("engine.knn.pass1_join")(
      broadcast(q).join(d, "cand_cell").localCheckpoint(eager = true))
    val nPairs = pairs.count()
    val (topkS, top) = ctx.timed("engine.knn.topk")(
      GeoEngine.geodesicTopK(pairs, K, "query_id", "data_id").localCheckpoint(eager = true))
    val settled = top.groupBy("query_id").agg(count(lit(1)).as("n"), max("dist").as("kth"))
      .where(col("n") === K && col("kth") <= GeoEngine.ringSafeRadius(Level, 1)).count()
    Map(
      "engine.knn.pass1_pairs" -> nPairs.toDouble,
      "engine.knn.pass1_join_s" -> joinS,
      "engine.knn.topk_s" -> topkS,
      "engine.knn.topk_ns_per_pair" -> topkS * 1e9 / nPairs,
      "engine.knn.pass1_settled_frac" -> settled.toDouble / Queries,
      "engine.knn.rest_s" -> (wallS - joinS - topkS),
      "geodesic.inverse_ns" -> ctx.tracer.span("geodesic.inverse")(Micro.geodesicNs(points))
    ) ++ corpusLayers()
  }

  private def corpusLayers(): Map[String, Double] = {
    val probeDocs = firstDocs(ProbeDocs).cache()
    probeDocs.count()
    try new CorpusLayers(ctx, probeDocs, new CorpusPoints(ctx.seed, ProbeDocs)).probe()
    finally probeDocs.unpersist(blocking = true)
  }

  def inputs: Seq[(String, Any)] = Seq("docs" -> Docs, "probe_docs" -> ProbeDocs,
    "queries" -> Queries, "k" -> K,
    "level" -> Level, "corpus_hotspot_share" -> CorpusLayers.hotspotShare(points, Docs),
    "query_hotspot_share" -> HotspotQueries.sum.toDouble / Queries,
    "queries_per_hotspot" -> HotspotQueries.mkString("/"))
}
