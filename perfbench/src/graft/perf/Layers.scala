package graft.perf

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.data.{Dedup, dataops}
import graft.geo.cells.CellIndex
import graft.geo.engine.GeoEngine
import graft.geo.expr.geo
import graft.geo.geodesic.Geodesic
import graft.geo.synth.DocCorpus
import graft.perf.Main.{check, median, summary}

/** Probes of the corpus layers that no kept workload times end to end,
  * run in the traced kNN run on its corpus: the single-exchange spatial
  * jobs of `GeoEngine` on the cached geometry, and the parquet corpus write
  * plus MinHash-LSH dedup of its texts.  Each job runs once, after the kNN
  * passes warmed Spark; a wrong answer counts as a failed operation. */
final class CorpusLayers(ctx: Ctx, geoDocs: DataFrame, points: CorpusPoints) {
  val RadiusM = 25000.0
  val TileLevel = 12
  val RasterLevel = 6
  val QueryEvery = 500
  val CheckedQueries = 8
  val DedupThreshold = 0.5
  val PlantEvery = 50
  /** Planted pairs at or above this Jaccard must all be found: with 16
    * bands of 4 rows, LSH misses a pair of Jaccard j with probability
    * (1 - j^4)^16, under 1e-6 at 0.85. */
  val RecallJaccard = 0.85
  private val docs = points.n

  private def data = geoDocs.select(col("doc_id").as("data_id"), col("lon"), col("lat"))
  private def queries = geoDocs.where(pmod(xxhash64(col("doc_id")), lit(QueryEvery)) === 0)
    .select(col("doc_id").as("query_id"), col("lon"), col("lat"))
  private def pip = GeoEngine.pipJoin(ctx.spark, geoDocs, graft.Bench.benchPolys)
  private def distance = GeoEngine.distanceJoin(queries, data, RadiusM)

  def probe(): Map[String, Double] = spatial() ++ dedup()

  private def spatial(): Map[String, Double] = {
    val raster = GeoEngine.tiled(geoDocs, RasterLevel).select("cell").distinct()
      .withColumn("value", (col("cell") % 97).cast("double"))
    val jobs: Seq[(String, () => Out)] = Seq(
      "engine.tile_assign" -> (() => summary(GeoEngine.tileOccupancy(geoDocs, TileLevel),
        sum("n_docs"), col("cell"), col("n_docs"))),
      "engine.hex_tile" -> (() => summary(GeoEngine.hexOccupancy(geoDocs, RadiusM),
        sum("n_docs"), col("hq"), col("hr"), col("n_docs"))),
      "engine.pip_join" -> (() => summary(pip, count(lit(1)), col("doc_id"), col("poly_id"))),
      "engine.distance_join" -> (() => summary(distance, count(lit(1)),
        col("query_id"), col("data_id"))),
      "engine.raster_tile" -> (() => summary(
        GeoEngine.rasterVectorStats(geoDocs, raster, RasterLevel),
        sum("n_docs"), col("cell"), col("n_docs"), col("sum_value"))))
    val outs = jobs.flatMap { case (name, body) =>
      ctx.ops.attempt(name)(ctx.timed(name)(body())).map(name -> _)
    }.toMap

    for (job <- Seq("engine.tile_assign", "engine.hex_tile", "engine.raster_tile");
         (_, out) <- outs.get(job))
      ctx.ops.attempt(s"$job.total")(check(out.rows == docs, s"${out.rows} assignments for $docs docs"))
    ctx.ops.attempt("engine.pip_join.ray_cast") {
      val got = pip.groupBy("poly_id").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      for (p <- graft.Bench.benchPolys) {
        val want = (0 until docs).count(i => rayCast(p.ring, points.lon(i), points.lat(i))).toLong
        check(got.getOrElse(p.poly_id, 0L) == want,
          s"${p.poly_id}: ${got.getOrElse(p.poly_id, 0L)} points, ray cast gives $want")
      }
    }
    ctx.ops.attempt("engine.distance_join.brute_force") {
      val qs = CorpusLayers.sample(ctx.seed,
        queries.select("query_id").collect().map(_.getString(0)).toSeq, CheckedQueries)
      val got = distance.where(col("query_id").isin(qs: _*)).select("query_id", "data_id")
        .collect().groupMap(_.getString(0))(_.getString(1)).map { case (k, v) => k -> v.toSet }
      for (q <- qs) {
        val want = withinRadius(points.index(q)).map(points.docId).toSet
        val have = got.getOrElse(q, Set.empty[String])
        check(have == want, s"query $q: ${have.size} rows, brute force gives ${want.size}")
      }
    }

    val level = GeoEngine.distanceJoinLevel(RadiusM)
    val q = queries.select(col("query_id"),
      explode(geo.cellNeighbors(geo.cellId(col("lon"), col("lat"), level), 1)).as("cand_cell"))
    val d = GeoEngine.tiled(data, level).select(col("data_id"), col("cell").as("cand_cell"))
    val candidates = ctx.tracer.span("engine.distance_join.candidates")(
      broadcast(q).join(d, "cand_cell").count())
    val coverCells = graft.Bench.benchPolys.map { p =>
      val (w, s, e, n) = p.bbox
      CellIndex.coverBBox(w, s, e, n, GeoEngine.coverLevelFor(p)).length
    }.sum
    outs.map { case (job, (secs, _)) => s"${job}_s" -> secs } ++ Map(
      "engine.distance_join.candidate_pairs" -> candidates.toDouble,
      "engine.distance_join.output_frac" ->
        outs.get("engine.distance_join").map(_._2.rows.toDouble / candidates).getOrElse(0.0),
      "cells.pip_cover_cells" -> coverCells.toDouble,
      "cells.cellid_ns" -> ctx.tracer.span("cells.cellid")(Micro.cellIdNs(points.lon, points.lat)))
  }

  /** Even-odd crossing test on the lon/lat plane. */
  private def rayCast(ring: Array[Double], lon: Double, lat: Double): Boolean = {
    val n = ring.length / 2
    var inside = false
    var j = n - 1
    for (i <- 0 until n) {
      val (xi, yi, xj, yj) = (ring(2 * i), ring(2 * i + 1), ring(2 * j), ring(2 * j + 1))
      if ((yi > lat) != (yj > lat) && lon < xi + (lat - yi) * (xj - xi) / (yj - yi))
        inside = !inside
      j = i
    }
    inside
  }

  /** Every corpus point within RadiusM (Karney) of point q. */
  private def withinRadius(q: Int): Seq[Int] = {
    val (x, y, z) = CorpusPoints.unitXyz(points.lon(q), points.lat(q))
    val theta = RadiusM / 6.2e6 // below the least metres per radian: a superset
    val cap = 4 * math.pow(math.sin(theta / 2), 2)
    (0 until docs).filter(i => points.chord2(i, x, y, z) <= cap &&
      Geodesic.WGS84.distance(points.lat(q), points.lon(q), points.lat(i), points.lon(i)) <= RadiusM)
  }

  /** Corpus written as parquet, its texts read back, one `dataops.minhash`
    * pass (median of three) and one MinHash-LSH dedup.  DocCorpus has no
    * near-duplicates, so a copy of every PlantEvery-th doc's text with one
    * token appended is added under the id `<doc_id>-dup` (Jaccard s/(s+1)
    * for s shingles).  Every reported pair's exact word-3-gram Jaccard,
    * recomputed on the driver, must reach the threshold and equal the
    * reported one, and every planted pair at RecallJaccard or above must
    * be reported. */
  private def dedup(): Map[String, Double] = {
    val path = new java.io.File(ctx.work, "corpus").getPath
    val (writeS, _) = ctx.timed("synth.corpus_write")(
      DocCorpus.write(ctx.spark, docs.toLong, path, ctx.seed, parts = ctx.cores * 2))
    val bytes = java.nio.file.Files.walk(java.nio.file.Paths.get(path))
      .filter(p => p.toFile.isFile).mapToLong(p => p.toFile.length).sum
    import ctx.spark.implicits._
    val planted = (0 until docs).filter(_ % PlantEvery == ctx.seed.abs % PlantEvery)
      .map(i => (points.docId(i) + "-dup", docText(i) + s" planted$i")).toMap
    val texts = ctx.spark.read.parquet(path).select(col("doc_id"),
      array_join(col("spans").getField("text"), " ").as("text"))
      .union(planted.toSeq.toDF("doc_id", "text")).cache()
    val sig = texts.select(dataops.minhash(col("text")).as("sig"))
      .agg(sum(element_at(col("sig"), 1).bitwiseAND(lit(0x7fffffffL))))
    val sigS = median((1 to 3).map(_ => ctx.timed("data.minhash_sig")(sig.head())._1))
    val pairs = ctx.tracer.span("data.dedup")(
      Dedup.minhashLsh(texts, jaccardThreshold = DedupThreshold).collect())
    def text(id: String) = planted.getOrElse(id, docText(points.index(id)))
    def jaccard(a: String, b: String) = {
      val (x, y) = (shingles(text(a)), shingles(text(b)))
      (x & y).size.toDouble / (x | y).size
    }
    ctx.ops.attempt("data.dedup.exact_jaccard") {
      check(pairs.map(r => (r.getString(0), r.getString(1))).distinct.length == pairs.length,
        "duplicate pairs")
      for (r <- pairs) {
        val j = jaccard(r.getString(0), r.getString(1))
        check(r.getString(0) < r.getString(1) && j >= DedupThreshold &&
          math.abs(j - r.getDouble(2)) < 1e-9,
          s"pair ${r.getString(0)},${r.getString(1)}: jaccard $j, reported ${r.getDouble(2)}")
      }
    }
    ctx.ops.attempt("data.dedup.planted_recall") {
      val found = pairs.map(r => (r.getString(0), r.getString(1))).toSet
      val want = planted.keys.map(dup => (dup.stripSuffix("-dup"), dup))
        .filter { case (a, b) => jaccard(a, b) >= RecallJaccard }
      check(want.nonEmpty, "no planted pair reaches the recall Jaccard")
      val missed = want.filterNot(found)
      check(missed.isEmpty, s"${missed.size} of ${want.size} planted pairs missed, e.g. ${missed.head}")
    }
    texts.unpersist()
    Map("synth.corpus_write_s" -> writeS, "synth.corpus_mb" -> bytes / 1048576.0,
      "data.minhash_sig_s" -> sigS, "data.dedup_pairs" -> pairs.length.toDouble)
  }

  /** Lower-case letter/digit word 3-grams; shorter texts are one shingle. */
  private def shingles(text: String): Set[String] = {
    val toks = text.toLowerCase.split("[^\\p{L}\\p{Nd}]+").filter(_.nonEmpty).toSeq
    if (toks.length < 3) (if (toks.isEmpty) Set.empty else Set(toks.mkString(" ")))
    else toks.sliding(3).map(_.mkString(" ")).toSet
  }

  private def docText(i: Int): String =
    DocCorpus.doc(ctx.seed, i.toLong).spans.filter(_.kind == "text").map(_.text).mkString(" ")
}

object CorpusLayers {
  /** A seeded sample of `n` ids out of `ids`. */
  def sample(seed: Long, ids: Seq[String], n: Int): Seq[String] =
    new scala.util.Random(seed).shuffle(ids.sorted).take(n)

  /** Share of the points 0 until n in DocCorpus's hotspot boxes. */
  def hotspotShare(points: CorpusPoints, n: Int): Double =
    (0 until n).count(i => CorpusPoints.inHotspot(points.lon(i), points.lat(i))).toDouble / n
}
