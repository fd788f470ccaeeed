package graft.geo.engine

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.geo.expr.geo

/** Spatial statistics over cell aggregates: Getis–Ord Gi* hot-spot
  * z-scores and global Moran's I spatial autocorrelation, the two
  * standard "is this clustering real" diagnostics run after tiling
  * (ArcGIS hot-spot analysis, PySAL esda).  Both operate on the
  * OCCUPIED-cell universe (cells holding at least one point) with
  * binary ring-1 contiguity weights — the hex variant uses the planar
  * axial hexbin (7-cell disk), the cube variant the S2-style quad grid
  * (9-cell block).
  *
  * Numeric design for determinism + oracle replay: the per-cell
  * attribute is the POINT COUNT, so every aggregate that crosses rows
  * (ΣX, ΣX², neighbor sums, cross-products) is a LONG sum — exact,
  * partitioning-independent, and bit-replayable in SQL; doubles appear
  * only in the final closed-form z / I arithmetic on those exact
  * integers, which DuckDB reproduces IEEE-identically from the same
  * expression shape.  A double-valued attribute would make the global
  * sums order-dependent across partitionings.
  *
  * Scale shape: points are aggregated once map-side (one shuffle to the
  * tiny cell frame); the global moment row rides a broadcast cross
  * join; the neighbor pass explodes the <=9-cell disk on the AGGREGATE
  * frame (thousands of rows, not the corpus) and self-joins it — at
  * 10^12 points every stage past the first aggregation is negligible. */
object SpatialStats {

  /** Per-hex cell attribute: webmerc projection + axial hexbin — the
    * SQL-mirrorable chain of [[GeoEngine.hexOccupancy]].  The attribute
    * x is the POINT COUNT when `valueCol` is null (the point-pattern
    * reading), else the exact-long SUM of the integral value column
    * (the ArcGIS attribute-weighted reading: "hot" means high VALUES
    * cluster, not many points); rows with a null value are dropped so
    * the occupied-cell universe is identical either way a value is
    * present. */
  private def hexCells(pts: DataFrame, sizeMeters: Double,
                       lonCol: String, latCol: String,
                       valueCol: String = null): DataFrame = {
    val xy = geo.transform(graft.geo.kernels.WebMercKernel(),
      forward = true, outDims = 2, col(lonCol), col(latCol))
    if (valueCol == null)
      pts.select(geo.hexBin(xy.getField("x"), xy.getField("y"), sizeMeters)
          .as("cell"))
        .where(col("cell").isNotNull)
        .groupBy("cell").agg(count(lit(1)).as("x"))
    else
      pts.select(geo.hexBin(xy.getField("x"), xy.getField("y"), sizeMeters)
          .as("cell"), col(valueCol).cast("long").as("_v"))
        .where(col("cell").isNotNull && col("_v").isNotNull)
        .groupBy("cell").agg(sum(col("_v")).as("x"))
  }

  /** Per-cube-cell attribute at `level` (count, or exact-long value sum
    * when `valueCol` is set — the [[hexCells]] contract). */
  private def cubeCells(pts: DataFrame, level: Int,
                        lonCol: String, latCol: String,
                        valueCol: String = null): DataFrame =
    if (valueCol == null)
      pts.select(geo.cellId(col(lonCol), col(latCol), level).as("cell"))
        .where(col("cell").isNotNull)
        .groupBy("cell").agg(count(lit(1)).as("x"))
    else
      pts.select(geo.cellId(col(lonCol), col(latCol), level).as("cell"),
          col(valueCol).cast("long").as("_v"))
        .where(col("cell").isNotNull && col("_v").isNotNull)
        .groupBy("cell").agg(sum(col("_v")).as("x"))

  /** Gi* core over an aggregated (cell, x) frame: `disk` maps a cell id
    * to its ring-1 neighborhood INCLUDING self (the Gi-star convention).
    * Returns (cell, x, wsum, wn, z): wsum = Σ x over occupied disk
    * members, wn their count, z the Getis–Ord standardized score
    * (null when the variance term degenerates: n == 1, or every cell
    * holds the same count). */
  private def giStarOn(cells: DataFrame, disk: Column => Column): DataFrame = {
    val global = broadcast(cells.agg(
      count(lit(1)).as("n"),
      sum(col("x")).as("sum_x"),
      sum(col("x") * col("x")).as("sum_x2")))
    val nbr = cells
      .select(col("cell").as("tgt"), explode(disk(col("cell"))).as("cell"))
      .join(cells, "cell")
      .groupBy(col("tgt").as("cell"))
      .agg(sum(col("x")).as("wsum"), count(lit(1)).as("wn"))
    val m = col("sum_x").cast("double") / col("n")
    val s = sqrt(col("sum_x2").cast("double") / col("n") - m * m)
    val varTerm = (col("n") * col("wn") - col("wn") * col("wn")).cast("double") /
      (col("n") - lit(1)).cast("double")
    val denom = s * sqrt(varTerm)
    cells.join(nbr, "cell")
      .crossJoin(global)
      .select(col("cell"), col("x"), col("wsum"), col("wn"),
        when(col("n") > 1 && denom > 0,
          (col("wsum").cast("double") - m * col("wn")) / denom).as("z"))
  }

  /** Getis–Ord Gi* hot-spot z-scores over planar hexbins of circumradius
    * `sizeMeters` (webmerc metres, pointy-top axial grid).  Output one
    * row per occupied hex: (hq, hr, n_points, wsum, wn, z).  With
    * `valueCol` set, the cell attribute (still emitted as `n_points`) is
    * the exact-long SUM of that integral column instead of the point
    * count — the ArcGIS attribute-weighted hot-spot reading; the same
    * switch exists on every cell statistic sharing this frame (Moran,
    * Geary, General G, local Moran, KDE). */
  def giStarHex(pts: DataFrame, sizeMeters: Double,
                lonCol: String = "lon", latCol: String = "lat",
                valueCol: String = null): DataFrame = {
    require(sizeMeters > 0, "sizeMeters must be positive")
    val dec = geo.hexDecode(col("cell"), sizeMeters)
    giStarOn(hexCells(pts, sizeMeters, lonCol, latCol, valueCol),
        c => geo.hexDisk(c, 1))
      .select(dec.getField("q").as("hq"), dec.getField("r").as("hr"),
        col("x").as("n_points"), col("wsum"), col("wn"), col("z"))
  }

  /** Gi* over the S2-style cube grid at `level` (9-cell block weights,
    * face-crossing adjacency handled by the cell index).  Output
    * (cell, n_points, wsum, wn, z). */
  def giStarCells(pts: DataFrame, level: Int,
                  lonCol: String = "lon", latCol: String = "lat",
                  valueCol: String = null): DataFrame =
    giStarOn(cubeCells(pts, level, lonCol, latCol, valueCol),
        c => geo.cellNeighbors(c, 1))
      .select(col("cell"), col("x").as("n_points"),
        col("wsum"), col("wn"), col("z"))

  /** Moran's I core: binary ring-1 weights EXCLUDING self, occupied
    * cells only.  One output row: (n_cells, n_edges, i).  The
    * cross-product Σ(xi−m)(xj−m) is expanded algebraically so every
    * data-dependent sum is an exact LONG (Σxixj, Σxi, Σxj over edges);
    * m enters only in the final scalar arithmetic.  I is null when
    * there are no edges or zero variance. */
  private def moranOn(cells: DataFrame, disk: Column => Column): DataFrame = {
    val global = cells.agg(
      count(lit(1)).as("n"),
      sum(col("x")).as("sum_x"),
      sum(col("x") * col("x")).as("sum_x2"))
    val xi = cells.select(col("cell").as("tgt"), col("x").as("xi"))
    val edges = xi
      .select(col("tgt"), col("xi"), explode(disk(col("tgt"))).as("cell"))
      .where(col("cell") =!= col("tgt"))
      .join(cells, "cell")
      .agg(count(lit(1)).as("e"),
        sum(col("xi")).as("s_xi"), sum(col("x")).as("s_xj"),
        sum(col("xi") * col("x")).as("s_xixj"))
    val m = col("sum_x").cast("double") / col("n")
    val num = col("s_xixj").cast("double") - m * col("s_xi") -
      m * col("s_xj") + col("e") * m * m
    val den = col("sum_x2").cast("double") - col("n") * m * m
    global.crossJoin(edges)
      .select(col("n").as("n_cells"), col("e").as("n_edges"),
        when(col("e") > 0 && den > 0,
          (col("n").cast("double") / col("e")) * num / den).as("i"))
  }

  /** Global Moran's I over planar hexbins (ring-1 rook/queen-equivalent
    * hex contiguity): positive = clustered counts, ~0 = random,
    * negative = dispersed (checkerboard). */
  def moranHex(pts: DataFrame, sizeMeters: Double,
               lonCol: String = "lon", latCol: String = "lat",
               valueCol: String = null): DataFrame = {
    require(sizeMeters > 0, "sizeMeters must be positive")
    moranOn(hexCells(pts, sizeMeters, lonCol, latCol, valueCol),
      c => geo.hexDisk(c, 1))
  }

  /** Global Moran's I over the cube grid at `level` (8-neighbor queen
    * contiguity). */
  def moranCells(pts: DataFrame, level: Int,
                 lonCol: String = "lon", latCol: String = "lat",
                 valueCol: String = null): DataFrame =
    moranOn(cubeCells(pts, level, lonCol, latCol, valueCol),
      c => geo.cellNeighbors(c, 1))

  /** Geary's C core: binary ring-1 weights EXCLUDING self, occupied
    * cells only.  One output row: (n_cells, n_edges, s_d2, c) with
    * C = (n−1)·Σ_ij w_ij (x_i−x_j)² / (2W·Σ_i (x_i−m)²), W = the ordered
    * edge count (each unordered edge seen from both sides — exactly the
    * Σ_ij w_ij convention).  The squared-difference sum s_d2 is an exact
    * long; m enters only the final scalar arithmetic.  C ≈ 1 under
    * randomness, < 1 clustered, > 1 dispersed (Moran's inverse-reading
    * complement — C weights local differences, I global covariance).
    * Null when there are no edges or zero variance. */
  private def gearyOn(cells: DataFrame, disk: Column => Column): DataFrame = {
    val global = cells.agg(
      count(lit(1)).as("n"),
      sum(col("x")).as("sum_x"),
      sum(col("x") * col("x")).as("sum_x2"))
    val edges = cells
      .select(col("cell").as("tgt"), col("x").as("xi"),
        explode(disk(col("cell"))).as("cell"))
      .where(col("cell") =!= col("tgt"))
      .join(cells, "cell")
      .agg(count(lit(1)).as("e"),
        sum((col("xi") - col("x")) * (col("xi") - col("x"))).as("s_d2"))
    val m = col("sum_x").cast("double") / col("n")
    val den = col("sum_x2").cast("double") - col("n") * m * m
    global.crossJoin(edges)
      .select(col("n").as("n_cells"), col("e").as("n_edges"),
        coalesce(col("s_d2"), lit(0L)).as("s_d2"),
        when(col("e") > 0 && den > 0,
          (col("n") - lit(1)).cast("double") * col("s_d2").cast("double") /
            (lit(2.0) * col("e").cast("double") * den)).as("c"))
  }

  /** Geary's C over planar hexbins (ring-1 hex contiguity, self
    * excluded): one row — (n_cells, n_edges, s_d2, c). */
  def gearyHex(pts: DataFrame, sizeMeters: Double,
               lonCol: String = "lon", latCol: String = "lat",
               valueCol: String = null): DataFrame = {
    require(sizeMeters > 0, "sizeMeters must be positive")
    gearyOn(hexCells(pts, sizeMeters, lonCol, latCol, valueCol),
      c => geo.hexDisk(c, 1))
  }

  /** Join-count statistics core (Cliff–Ord BB/BW/WW over a binary map):
    * a cell is BLACK when its point count ≥ `threshold`, else white;
    * binary ring-1 contiguity EXCLUDING self.  One output row:
    * (n_cells, n_black, n_edges, bb, bw, ww, e_bb, e_bw, e_ww).
    * Counts are exact longs over UNORDERED edges — the symmetric ordered
    * edge list is halved by integer DIV (exact: every unordered edge
    * contributes an even 2).  Expectations are the closed-form
    * nonfree-sampling (hypergeometric) values E[BB] = E·n_B(n_B−1)/
    * (n(n−1)), E[WW] likewise, E[BW] = 2E·n_B·n_W/(n(n−1)) — BB ≫ E[BB]
    * reads "black cells clump".  Significance testing is by permutation
    * outside the engine (the LISA stance: the analytic variance adds
    * little at corpus scale). */
  private def joinCountsOn(cells: DataFrame, disk: Column => Column,
                           threshold: Long): DataFrame = {
    val flagged = cells.select(col("cell"),
      when(col("x") >= threshold, 1L).otherwise(0L).as("b"))
    val global = flagged.agg(
      count(lit(1)).as("n"), sum(col("b")).as("nb"))
    val edges = flagged
      .select(col("cell").as("tgt"), col("b").as("bi"),
        explode(disk(col("cell"))).as("cell"))
      .where(col("cell") =!= col("tgt"))
      .join(flagged, "cell")
      .agg(count(lit(1)).as("e2"),
        sum(col("bi") * col("b")).as("bb2"),
        sum(when(col("bi") =!= col("b"), 1L).otherwise(0L)).as("bw2"))
    val e = expr("e2 DIV 2")
    val bb = expr("coalesce(bb2, 0L) DIV 2")
    val bw = expr("coalesce(bw2, 0L) DIV 2")
    val nD = col("n").cast("double")
    val nbD = col("nb").cast("double")
    val nwD = (col("n") - col("nb")).cast("double")
    val pairsD = nD * (nD - 1.0)
    global.crossJoin(edges)
      .select(col("n").as("n_cells"), col("nb").as("n_black"),
        e.as("n_edges"), bb.as("bb"), bw.as("bw"),
        (e - bb - bw).as("ww"),
        when(col("n") > 1, e.cast("double") * nbD * (nbD - 1.0) / pairsD)
          .as("e_bb"),
        when(col("n") > 1, lit(2.0) * e.cast("double") * nbD * nwD / pairsD)
          .as("e_bw"),
        when(col("n") > 1, e.cast("double") * nwD * (nwD - 1.0) / pairsD)
          .as("e_ww"))
  }

  /** Join counts over planar hexbins: black = count ≥ `threshold`. */
  def joinCountsHex(pts: DataFrame, sizeMeters: Double, threshold: Long,
                    lonCol: String = "lon", latCol: String = "lat"): DataFrame = {
    require(sizeMeters > 0, "sizeMeters must be positive")
    require(threshold > 0, "threshold must be positive")
    joinCountsOn(hexCells(pts, sizeMeters, lonCol, latCol),
      c => geo.hexDisk(c, 1), threshold)
  }

  /** Local Moran's I core (Anselin 1995 LISA): per occupied cell,
    * I_i = (x_i − m) · Σ_j w_ij (x_j − m) / m2 with binary ring-1
    * weights EXCLUDING self, m2 = population variance.  The neighbor
    * term expands to (nbrsum_i − nbrn_i·m) with nbrsum/nbrn exact longs
    * (disk sums minus self), so doubles appear only in the final
    * closed-form arithmetic.  Quadrant classification (1=HH high in a
    * high neighborhood, 2=LH low outlier among highs, 3=LL, 4=HL) is by
    * strict signs of (x_i − m) and the neighbor-mean lag; it is null
    * when the cell has no occupied neighbors, variance degenerates, or
    * either sign is exactly zero.  I_i itself is null only in the first
    * two cases.  Inference: test the map-wide hypothesis with
    * [[moranHex]]/[[moranCells]] or conditional permutation outside the
    * engine — the analytic per-cell variance adds little at corpus
    * scale and is omitted, as in common practice. */
  private def localMoranOn(cells: DataFrame, disk: Column => Column): DataFrame = {
    val global = broadcast(cells.agg(
      count(lit(1)).as("n"),
      sum(col("x")).as("sum_x"),
      sum(col("x") * col("x")).as("sum_x2")))
    val nbr = cells
      .select(col("cell").as("tgt"), explode(disk(col("cell"))).as("cell"))
      .where(col("cell") =!= col("tgt"))
      .join(cells, "cell")
      .groupBy(col("tgt").as("cell"))
      .agg(sum(col("x")).as("nbrsum"), count(lit(1)).as("nbrn"))
    val m = col("sum_x").cast("double") / col("n")
    val m2 = col("sum_x2").cast("double") / col("n") - m * m
    val zi = col("x").cast("double") - m
    val lag = col("nbrsum").cast("double") - col("nbrn") * m
    val iLocal = when(col("nbrn") > 0 && m2 > 0, zi * lag / m2)
    val quad = when(col("nbrn") > 0 && m2 > 0,
      when(zi > 0 && lag > 0, 1).when(zi < 0 && lag > 0, 2)
        .when(zi < 0 && lag < 0, 3).when(zi > 0 && lag < 0, 4))
    cells.join(nbr, Seq("cell"), "left")
      .na.fill(0L, Seq("nbrsum", "nbrn"))
      .crossJoin(global)
      .select(col("cell"), col("x"), col("nbrsum"), col("nbrn"),
        iLocal.as("i_local"), quad.as("quad"))
  }

  /** Local Moran (LISA) over planar hexbins: one row per occupied hex —
    * (hq, hr, n_points, nbrsum, nbrn, i_local, quad). */
  def localMoranHex(pts: DataFrame, sizeMeters: Double,
                    lonCol: String = "lon", latCol: String = "lat",
                    valueCol: String = null): DataFrame = {
    require(sizeMeters > 0, "sizeMeters must be positive")
    val dec = geo.hexDecode(col("cell"), sizeMeters)
    localMoranOn(hexCells(pts, sizeMeters, lonCol, latCol, valueCol),
        c => geo.hexDisk(c, 1))
      .select(dec.getField("q").as("hq"), dec.getField("r").as("hr"),
        col("x").as("n_points"), col("nbrsum"), col("nbrn"),
        col("i_local"), col("quad"))
  }

  /** Ripley's K function (multi-distance spatial clustering): the naive
    * (uncorrected) estimator K̂(r) = A · Σ_{i≠j} 1[d_ij ≤ r] / (n(n−1))
    * over an ascending radius ladder, plus Besag's L(r) = sqrt(K/π) —
    * under complete spatial randomness K(r) ≈ πr², L(r) ≈ r, so
    * L(r) − r > 0 reads "clustered at scale r".  Edge correction is
    * deliberately omitted (document the bias near the domain boundary);
    * the caller supplies the study-area measure `areaM2`.
    *
    * Distances are the engine's SQL-mirrorable squared-chord metric:
    * each radius converts once through [[GeoEngine.maxChord2For]]
    * (authalic sphere, the distance-join convention), so the oracle can
    * replay the whole statistic.  Pair counts are exact longs; A and the
    * final K/L arithmetic are the only doubles.
    *
    * Scale shape: ONE cell-cover self-join at the coarsest level whose
    * ring-1 neighborhood covers the largest radius ([[GeoEngine
    * .distanceJoinChord]] — the data side shuffles once on the cell key,
    * never the payload); all ladder counts come from a single
    * conditional-sum aggregation over that one pair stream — the ladder
    * costs k columns, not k joins.  Ordered pairs (each unordered pair
    * seen from both sides) ARE the estimator's Σ_{i≠j}. */
  def ripleysK(pts: DataFrame, radiiMeters: Seq[Double], areaM2: Double,
               idCol: String = "pt_id", lonCol: String = "lon",
               latCol: String = "lat"): DataFrame = {
    require(radiiMeters.nonEmpty && radiiMeters.forall(_ > 0),
      "radii must be positive")
    require(radiiMeters == radiiMeters.sorted && radiiMeters.distinct ==
      radiiMeters, "radii must be strictly ascending")
    require(areaM2 > 0, "areaM2 must be positive")
    val base = pts
      .where(col(idCol).isNotNull && col(lonCol).isNotNull &&
        col(latCol).isNotNull)
      .select(col(idCol).as("pid"), col(lonCol).as("lon"),
        col(latCol).as("lat"))
    val c2s = radiiMeters.map(GeoEngine.maxChord2For)
    val pairs = GeoEngine.distanceJoinChord(
        base.select(col("pid").as("i"), col("lon"), col("lat")),
        base.select(col("pid").as("j"), col("lon"), col("lat")),
        c2s.last, queryId = "i", dataId = "j", broadcastQueries = false)
      .where(col("i") =!= col("j"))
    val counts = pairs.agg(
      sum(when(col("cd") <= c2s.head, 1L).otherwise(0L)).as("c0"),
      c2s.zipWithIndex.drop(1).map { case (c2, k) =>
        sum(when(col("cd") <= c2, 1L).otherwise(0L)).as(s"c$k") }: _*)
    val n = broadcast(base.agg(count(lit(1)).as("n")))
    val ladder = array(radiiMeters.zipWithIndex.map { case (r, k) =>
      struct(lit(Math.round(r)).as("r_meters"),
        coalesce(col(s"c$k"), lit(0L)).as("n_pairs")) }: _*)
    counts.crossJoin(n)
      .select(col("n").as("n_points"), explode(ladder).as("b"))
      .select(col("n_points"), col("b.r_meters").as("r_meters"),
        col("b.n_pairs").as("n_pairs"))
      .withColumn("k", when(col("n_points") >= 2,
        lit(areaM2) * col("n_pairs").cast("double") /
          (col("n_points") * (col("n_points") - 1)).cast("double")))
      .withColumn("l", sqrt(col("k") / lit(math.Pi)))
  }

  /** Monte-Carlo CSR significance envelope for Ripley's K/L (spatstat
    * `envelope`): the observed pair counts tested against `nSims`
    * simulated complete-spatial-randomness patterns of the SAME size n
    * on the sphere — the standard inference companion to [[ripleysK]]
    * (the analytic null is intractable without edge correction; global
    * envelopes are how the K function is actually tested).  Output one
    * row per radius rung: (r_meters, n_points, n_sims, obs_pairs,
    * lo_pairs, hi_pairs, n_ge, obs_l, lo_l, hi_l, p_upper) — lo/hi the
    * simulation min/max (a 1/(nSims+1)-level pointwise envelope),
    * n_ge = #sims with count ≥ observed, p_upper = (1+n_ge)/(nSims+1)
    * (the one-sided clustering p-value).  obs above hi_l reads
    * "significantly clustered at scale r".
    *
    * Simulated points are a pure function of (seed, point id) through a
    * chained integer LCG → uniform-on-sphere (lat = asin(2u−1)), so the
    * envelope is deterministic, partitioning-independent, and exactly
    * SQL-replayable (q_l_envelope's DuckDB oracle recomputes generator,
    * counts, envelope and p-value); per-sim pair counts are exact longs.
    *
    * Scale shape: observed + all sims ride ONE (sim, cell)-keyed
    * cell-cover self-join (the [[ripleysK]] machinery with the sim id
    * in the key, so sims never cross-pair) and one groupBy(sim) of
    * conditional sums; the envelope fold runs on the nSims-row frame.
    * One driver count() fixes n before generation (the Ann-centroid
    * stance). */
  def lEnvelope(pts: DataFrame, radiiMeters: Seq[Double], areaM2: Double,
                nSims: Int = 39, seed: Long = 42,
                idCol: String = "pt_id", lonCol: String = "lon",
                latCol: String = "lat"): DataFrame = {
    require(radiiMeters.nonEmpty && radiiMeters.forall(_ > 0),
      "radii must be positive")
    require(radiiMeters == radiiMeters.sorted && radiiMeters.distinct ==
      radiiMeters, "radii must be strictly ascending")
    require(areaM2 > 0, "areaM2 must be positive")
    require(nSims >= 1, "nSims must be positive")
    val base = pts
      .where(col(idCol).isNotNull && col(lonCol).isNotNull &&
        col(latCol).isNotNull)
      .select(xxhash64(col(idCol).cast("string")).as("pid"),
        col(lonCol).as("lon"), col(latCol).as("lat"))
    val nObs = base.count()
    require(nObs >= 2, s"need at least 2 points, got $nObs")
    val spark = pts.sparkSession
    // CSR sim coordinates from a chained MINSTD-family integer LCG.  The
    // lat draw is the NEXT state of the same per-point chain that made
    // the lon draw (consecutive-pair construction), so (u_lon, u_lat)
    // walks the 2-D lattice of multiplier 69621 — a Fishman–Moore
    // spectrally-good choice for M = 2^31 − 1 — instead of a degenerate
    // 1-D curve.  (The earlier per-salt form added `salt·7919` AFTER the
    // multiply, making the two draws differ by a constant mod M; any
    // affine-in-the-same-state salting has that defect, so the fix is a
    // genuine extra LCG round, not a different salt placement.)  Every
    // intermediate stays far below 2^63, so an external SQL engine
    // replays the generator with plain integer arithmetic (q_l_envelope's
    // DuckDB oracle) — the former xxhash64 draw was not SQL-expressible.
    val lcgM = 2147483647L
    val s0 = pmod(col("id") * lit(48271L) + lit(seed), lit(lcgM))
    val s1 = pmod(s0 * lit(69621L) + lit(7919L), lit(lcgM))
    val s2 = pmod(s1 * lit(69621L) + lit(7919L), lit(lcgM))
    val rng = spark.range(nSims.toLong * nObs)
    val sims = rng.select(
      (expr(s"id DIV ${nObs}L") + 1L).as("sim"),
      col("id").as("pid"),
      (s1.cast("double") / lcgM.toDouble * 360.0 - 180.0).as("lon"),
      degrees(asin(s2.cast("double") / lcgM.toDouble * 2.0 - 1.0)).as("lat"))
    val all = base.select(lit(0L).as("sim"), col("pid"), col("lon"),
      col("lat")).unionByName(sims)
    val c2s = radiiMeters.map(GeoEngine.maxChord2For)
    val level = GeoEngine.chordCoverLevel(c2s.last)
    val d = all.select(col("sim"), col("pid").as("j"),
      col("lon").as("d_lon"), col("lat").as("d_lat"),
      geo.cellId(col("lon"), col("lat"), level).as("cell"))
    val q = all.select(col("sim"), col("pid").as("i"),
      col("lon").as("q_lon"), col("lat").as("q_lat"),
      explode(geo.cellNeighbors(
        geo.cellId(col("lon"), col("lat"), level), 1)).as("cell"))
    val pairs = q.join(d, Seq("sim", "cell"))
      .where(col("i") =!= col("j"))
      .withColumn("cd", GeoEngine.chord2(col("q_lon"), col("q_lat"),
        col("d_lon"), col("d_lat")))
      .where(col("cd") <= c2s.last)
    val perSim = pairs.groupBy("sim").agg(
      sum(when(col("cd") <= c2s.head, 1L).otherwise(0L)).as("c0"),
      c2s.zipWithIndex.drop(1).map { case (c2, k) =>
        sum(when(col("cd") <= c2, 1L).otherwise(0L)).as(s"c$k") }: _*)
    // a sim with zero in-range pairs drops out of perSim; restore it so
    // the envelope's min is a true min over all nSims
    val simFrame = spark.range(nSims + 1L).select(col("id").as("sim"))
    val full = simFrame.join(perSim, Seq("sim"), "left")
      .na.fill(0L, c2s.indices.map(k => s"c$k"))
    // two tiny frames: the observed row and the sim envelope
    val obsRow = full.where(col("sim") === 0)
    val simRows = full.where(col("sim") > 0)
    val l = (c: org.apache.spark.sql.Column) =>
      sqrt(lit(areaM2) * c.cast("double") /
        lit(nObs.toDouble * (nObs - 1).toDouble) / lit(math.Pi))
    val perRung = radiiMeters.zipWithIndex.map { case (r, k) =>
      val c = col(s"c$k")
      val env = simRows.agg(
        min(c).as("lo_pairs"), max(c).as("hi_pairs"))
      val o = obsRow.select(c.as("obs_pairs"))
      val ge = simRows.crossJoin(broadcast(o))
        .agg(sum(when(c >= col("obs_pairs"), 1L).otherwise(0L)).as("n_ge"))
      o.crossJoin(broadcast(env)).crossJoin(broadcast(ge))
        .select(lit(Math.round(r)).as("r_meters"),
          lit(nObs).as("n_points"), lit(nSims.toLong).as("n_sims"),
          col("obs_pairs"), col("lo_pairs"), col("hi_pairs"), col("n_ge"),
          l(col("obs_pairs")).as("obs_l"),
          l(col("lo_pairs")).as("lo_l"),
          l(col("hi_pairs")).as("hi_l"),
          ((col("n_ge") + 1).cast("double") / (nSims + 1)).as("p_upper"))
    }
    perRung.reduce(_ unionByName _)
  }

  /** Bivariate (cross-type) Ripley's K — K̂_ab(r) = A · Σ_{i∈A, j∈B}
    * 1[d_ij ≤ r] / (n_a·n_b) over an ascending radius ladder, plus the
    * cross-L = sqrt(K_ab/π): the colocation diagnostic between two point
    * TYPES (spatstat `Kcross`; "are restaurants clustered around transit
    * stops").  Under independence K_ab(r) ≈ πr², L − r > 0 reads
    * "attraction at scale r", < 0 "repulsion".  Same conventions as
    * [[ripleysK]]: uncorrected estimator (boundary bias documented),
    * caller-supplied area, SQL-mirrorable chord metric, exact-long pair
    * counts from ONE cell-cover join of A against B (k ladder rungs =
    * k conditional-sum columns over the single pair stream, not k
    * joins).  Output per rung: (n_a, n_b, r_meters, n_pairs, k, l);
    * null K/L when either side is empty. */
  def crossK(ptsA: DataFrame, ptsB: DataFrame, radiiMeters: Seq[Double],
             areaM2: Double, idCol: String = "pt_id",
             lonCol: String = "lon", latCol: String = "lat"): DataFrame = {
    require(radiiMeters.nonEmpty && radiiMeters.forall(_ > 0),
      "radii must be positive")
    require(radiiMeters == radiiMeters.sorted && radiiMeters.distinct ==
      radiiMeters, "radii must be strictly ascending")
    require(areaM2 > 0, "areaM2 must be positive")
    def prep(df: DataFrame, as: String) = df
      .where(col(idCol).isNotNull && col(lonCol).isNotNull &&
        col(latCol).isNotNull)
      .select(col(idCol).as(as), col(lonCol).as("lon"),
        col(latCol).as("lat"))
    val a = prep(ptsA, "i")
    val b = prep(ptsB, "j")
    val c2s = radiiMeters.map(GeoEngine.maxChord2For)
    val pairs = GeoEngine.distanceJoinChord(a, b, c2s.last,
      queryId = "i", dataId = "j", broadcastQueries = false)
    val counts = pairs.agg(
      sum(when(col("cd") <= c2s.head, 1L).otherwise(0L)).as("c0"),
      c2s.zipWithIndex.drop(1).map { case (c2, k) =>
        sum(when(col("cd") <= c2, 1L).otherwise(0L)).as(s"c$k") }: _*)
    val ns = broadcast(a.agg(count(lit(1)).as("n_a"))
      .crossJoin(b.agg(count(lit(1)).as("n_b"))))
    val ladder = array(radiiMeters.zipWithIndex.map { case (r, k) =>
      struct(lit(Math.round(r)).as("r_meters"),
        coalesce(col(s"c$k"), lit(0L)).as("n_pairs")) }: _*)
    counts.crossJoin(ns)
      .select(col("n_a"), col("n_b"), explode(ladder).as("b"))
      .select(col("n_a"), col("n_b"), col("b.r_meters").as("r_meters"),
        col("b.n_pairs").as("n_pairs"))
      .withColumn("k", when(col("n_a") > 0 && col("n_b") > 0,
        lit(areaM2) * col("n_pairs").cast("double") /
          (col("n_a") * col("n_b")).cast("double")))
      .withColumn("l", sqrt(col("k") / lit(math.Pi)))
  }

  /** Clark–Evans average-nearest-neighbor statistic (1954; ArcGIS
    * "Average Nearest Neighbor"): R = observed mean NN distance /
    * expected mean 0.5/√(n/A) under complete spatial randomness, with
    * z = (obs − exp) / SE, SE = 0.26136/√(n²/A) (the published CSR
    * constant).  R < 1 clustered, R > 1 dispersed.  One output row:
    * (n_points, sum_nnd_um, obs_mean, exp_mean, r_ratio, z).
    *
    * Determinism contract: each point's exact-geodesic NN distance is
    * quantized ONCE to integer micrometers, so the corpus-wide sum is
    * an exact long (order-independent); the four statistics are
    * closed-form doubles from (sum, n, A).  Edge correction is omitted
    * (as in [[ripleysK]]) — document the boundary bias; the caller
    * supplies the study-area measure.
    *
    * Scale shape: the NN search is [[GeoEngine.knnJoin]] with k = 2
    * (self rides along at distance 0 and is dropped) — the radius-
    * escalating distance join, one map-side scan of the corpus per rung —
    * then one exact-long aggregation.  Duplicate positions are genuine
    * zero-distance neighbors. */
  def annStat(pts: DataFrame, areaM2: Double, level: Int = 11,
              idCol: String = "pt_id", lonCol: String = "lon",
              latCol: String = "lat"): DataFrame = {
    require(areaM2 > 0, "areaM2 must be positive")
    val base = pts
      .where(col(idCol).isNotNull && col(lonCol).isNotNull &&
        col(latCol).isNotNull)
      .select(col(idCol).as("pid"), col(lonCol).as("lon"),
        col(latCol).as("lat"))
    val nn = GeoEngine.knnJoin(base.select(col("pid").as("qid"),
          col("lon"), col("lat")),
        base.select(col("pid").as("did"), col("lon"), col("lat")),
        k = 2, level = level, queryId = "qid", dataId = "did")
      .where(col("did") =!= col("qid"))
      .groupBy("qid")
      .agg(min(floor(col("dist") * 1e6 + 0.5).cast("long")).as("nnd_um"))
    annCombine(nn.agg(count(lit(1)).as("n"),
      sum(col("nnd_um")).as("sum_nnd_um")), areaM2)
  }

  /** [[annStat]] in the SQL-mirrorable chord metric: NN distances from
    * the one-shuffle cell-cover self-join bounded by `maxChord2`,
    * converted to sphere-arc meters 2R·asin(√cd/2) (inverting
    * [[GeoEngine.maxChord2For]] exactly).  Points with NO neighbor
    * inside the bound drop out of
    * n and the sum (a documented truncation: choose the bound to cover
    * the sparsest point, or use [[annStat]] for the unbounded exact
    * search). */
  def annStatChord(pts: DataFrame, areaM2: Double, maxChord2: Double,
                   idCol: String = "pt_id", lonCol: String = "lon",
                   latCol: String = "lat"): DataFrame = {
    require(areaM2 > 0, "areaM2 must be positive")
    require(maxChord2 > 0, "maxChord2 must be positive")
    val base = pts
      .where(col(idCol).isNotNull && col(lonCol).isNotNull &&
        col(latCol).isNotNull)
      .select(col(idCol).as("pid"), col(lonCol).as("lon"),
        col(latCol).as("lat"))
    // invert maxChord2For's convention exactly: d = 2R·asin(chord/2)
    // with R = 6378137.0
    val arcM = lit(2.0 * 6378137.0) * asin(sqrt(col("cd")) / 2.0)
    val nn = GeoEngine.distanceJoinChord(
        base.select(col("pid").as("i"), col("lon"), col("lat")),
        base.select(col("pid").as("j"), col("lon"), col("lat")),
        maxChord2, queryId = "i", dataId = "j", broadcastQueries = false)
      .where(col("i") =!= col("j"))
      .groupBy("i")
      .agg(min(floor(arcM * 1e6 + 0.5).cast("long")).as("nnd_um"))
    annCombine(nn.agg(count(lit(1)).as("n"),
      sum(col("nnd_um")).as("sum_nnd_um")), areaM2)
  }

  /** Closed-form Clark–Evans combine over (n, Σ NN µm). */
  private def annCombine(agg: DataFrame, areaM2: Double): DataFrame = {
    val nD = col("n").cast("double")
    val obs = col("sum_nnd_um").cast("double") / nD / 1e6
    val expMean = lit(0.5) / sqrt(nD / lit(areaM2))
    val se = lit(0.26136) / sqrt(nD * nD / lit(areaM2))
    agg.select(col("n").as("n_points"),
      coalesce(col("sum_nnd_um"), lit(0L)).as("sum_nnd_um"),
      when(col("n") > 0, obs).as("obs_mean"),
      when(col("n") > 0, expMean).as("exp_mean"),
      when(col("n") > 0, obs / expMean).as("r_ratio"),
      when(col("n") > 0, (obs - expMean) / se).as("z"))
  }

  /** Quartic (biweight) kernel density over planar hexbins — the
    * heatmap operator (ArcGIS Kernel Density, QGIS heatmap): for every
    * hex within bandwidth of any mass,
    * density = 3/(π·h²) · Σ_d x_d · (1 − (d_cd/h)²)² over occupied
    * cells d whose CENTER distance d_cd < h, with x the point count —
    * the standard raster-KDE discretization at hex resolution.  Output
    * (hq, hr, n_points, wnum, density); n_points is the cell's own
    * count (0 for empty cells inside someone's bandwidth).
    *
    * Determinism contract: each neighbor's kernel value is quantized
    * ONCE to an exact long w = floor((1−u²)²·2²⁰ + 0.5) — u² a
    * deterministic double from the integer axial deltas — so the
    * accumulated numerator Σ x_d·w is an exact long
    * (partitioning-independent, bit-replayable in SQL) and the ≤2⁻²¹
    * relative quantization error is part of the output contract (the
    * centrography mm-quantization stance).  An unquantized Σ x·K would
    * be order-dependent across partitionings.
    *
    * Scale shape: one corpus shuffle to the cell frame; the disk fan
    * explodes k = ceil(h/(1.5·s)) rings on the AGGREGATE frame (center
    * distance at hex grid distance g is ≥ 1.5·s·g, so ring k+1 cannot
    * reach h — the fan over-covers, the u² < 1 cut trims exactly).
    * k ≤ 32 is enforced (≤ 3,169-cell fan); use coarser cells for wider
    * bandwidths. */
  def kdeHex(pts: DataFrame, sizeMeters: Double, bandwidthMeters: Double,
             lonCol: String = "lon", latCol: String = "lat",
             valueCol: String = null): DataFrame = {
    require(sizeMeters > 0, "sizeMeters must be positive")
    require(bandwidthMeters > 0, "bandwidthMeters must be positive")
    val k = math.ceil(bandwidthMeters / (1.5 * sizeMeters)).toInt
    require(k <= 32,
      s"bandwidth needs a $k-ring fan; use coarser cells (k <= 32)")
    val cells = hexCells(pts, sizeMeters, lonCol, latCol, valueCol)
    val sqrt3s = math.sqrt(3.0) * sizeMeters
    val bw2 = bandwidthMeters * bandwidthMeters
    val norm = 3.0 / (math.Pi * bandwidthMeters * bandwidthMeters)
    val ds = geo.hexDecode(col("src"), sizeMeters)
    val dt = geo.hexDecode(col("cell"), sizeMeters)
    val dq = (dt.getField("q") - ds.getField("q")).cast("double")
    val dr = (dt.getField("r") - ds.getField("r")).cast("double")
    val dx = lit(sqrt3s) * (dq + dr / 2.0)
    val dy = lit(1.5 * sizeMeters) * dr
    val u2 = (dx * dx + dy * dy) / lit(bw2)
    val w = when(u2 < 1.0,
      floor((lit(1.0) - u2) * (lit(1.0) - u2) * 1048576.0 + 0.5)
        .cast("long")).otherwise(lit(0L))
    val agg = cells
      .select(col("cell").as("src"), col("x").as("xd"),
        explode(geo.hexDisk(col("cell"), k)).as("cell"))
      .withColumn("w", w)
      .groupBy("cell")
      .agg(sum(col("xd") * col("w")).as("wnum"))
      .where(col("wnum") > 0)
    val dec = geo.hexDecode(col("cell"), sizeMeters)
    agg.join(cells, Seq("cell"), "left")
      .na.fill(0L, Seq("x"))
      .select(dec.getField("q").as("hq"), dec.getField("r").as("hr"),
        col("x").as("n_points"), col("wnum"),
        (col("wnum").cast("double") / 1048576.0 * lit(norm)).as("density"))
  }

  /** Inverse-distance-weighted interpolation over planar hexbins (the
    * Shepard 1968 surface estimator; ArcGIS/QGIS IDW raster): for every
    * hex within `radiusMeters` of an occupied cell, estimate the value
    * surface as Σ_d v̄_d·w_d / Σ_d w_d over occupied cells d, with
    * w_d = (size/d_cd)^p at center distance d_cd — the raster
    * discretization of per-point IDW at hex resolution.  A target that
    * is itself occupied takes its own cell mean (the exact-hit rule:
    * d = 0 dominates every weight).  Output (hq, hr, n_points, sum_v,
    * wnum, wden, estimate).
    *
    * `valueCol` must be an integral column (quantize upstream — the
    * [[Centrography]] mm stance): per-cell sums (n, Σv) stay exact
    * longs.  Determinism contract: the weight is quantized ONCE to
    * w = floor((size/d)^p·2²⁰ + 0.5) — d a deterministic double from
    * integer axial deltas, bounded by d ≥ √3·size so w ≤ 2²⁰·3^(−p/2) —
    * making numerator Σ (Σv_d)·w_d and denominator Σ n_d·w_d exact
    * longs, partitioning-independent and bit-replayable in SQL.
    *
    * Scale shape: identical to [[kdeHex]] — one corpus shuffle to the
    * occupied-cell frame, a ≤ k-ring disk fan on the AGGREGATE frame
    * (k = ceil(radius/(1.5·size)) ≤ 32), one aggregation back.  At
    * 10¹² points everything past the first aggregation is negligible. */
  def idwHex(pts: DataFrame, sizeMeters: Double, radiusMeters: Double,
             valueCol: String, power: Int = 2,
             lonCol: String = "lon", latCol: String = "lat"): DataFrame = {
    require(sizeMeters > 0, "sizeMeters must be positive")
    require(radiusMeters > 0, "radiusMeters must be positive")
    require(power >= 1 && power <= 6, "power must be in [1, 6]")
    val k = math.ceil(radiusMeters / (1.5 * sizeMeters)).toInt
    require(k <= 32,
      s"radius needs a $k-ring fan; use coarser cells (k <= 32)")
    val xy = geo.transform(graft.geo.kernels.WebMercKernel(),
      forward = true, outDims = 2, col(lonCol), col(latCol))
    val cells = pts
      .select(geo.hexBin(xy.getField("x"), xy.getField("y"), sizeMeters)
          .as("cell"),
        col(valueCol).cast("long").as("v"))
      .where(col("cell").isNotNull && col("v").isNotNull)
      .groupBy("cell")
      .agg(count(lit(1)).as("x"), sum(col("v")).as("sv"))
    val sqrt3s = math.sqrt(3.0) * sizeMeters
    val r2 = radiusMeters * radiusMeters
    val ds = geo.hexDecode(col("src"), sizeMeters)
    val dt = geo.hexDecode(col("cell"), sizeMeters)
    val dq = (dt.getField("q") - ds.getField("q")).cast("double")
    val dr = (dt.getField("r") - ds.getField("r")).cast("double")
    val dx = lit(sqrt3s) * (dq + dr / 2.0)
    val dy = lit(1.5 * sizeMeters) * dr
    val d2 = dx * dx + dy * dy
    val ratio = lit(sizeMeters) / sqrt(d2)
    val wRaw = (1 to power).map(_ => ratio).reduce(_ * _)
    val w = when(d2 > 0 && d2 <= r2,
      floor(wRaw * 1048576.0 + 0.5).cast("long")).otherwise(lit(0L))
    val agg = cells
      .select(col("cell").as("src"), col("x").as("xd"), col("sv").as("svd"),
        explode(geo.hexDisk(col("cell"), k)).as("cell"))
      .withColumn("w", w)
      .groupBy("cell")
      .agg(sum(col("svd") * col("w")).as("wnum"),
        sum(col("xd") * col("w")).as("wden"))
      .where(col("wden") > 0)
    val dec = geo.hexDecode(col("cell"), sizeMeters)
    // full outer: a lone occupied cell (no neighbor mass inside the
    // radius) still emits its exact-hit row
    agg.join(cells, Seq("cell"), "full")
      .na.fill(0L, Seq("x", "wnum", "wden"))
      .select(dec.getField("q").as("hq"), dec.getField("r").as("hr"),
        col("x").as("n_points"),
        coalesce(col("sv"), lit(0L)).as("sum_v"),
        col("wnum"), col("wden"),
        when(col("x") > 0,
            col("sv").cast("double") / col("x").cast("double"))
          .otherwise(col("wnum").cast("double") / col("wden").cast("double"))
          .as("estimate"))
  }

  /** Quadrat analysis (Greig-Smith 1952; CrimeStat / spatstat
    * `quadrat.test`): partition the study frame into equal quadrats,
    * count points per quadrat, and test the counts against the Poisson
    * expectation under complete spatial randomness via the index of
    * dispersion chi² = Σ_all (x − m)²/m = (N−1)·VMR with N quadrats and
    * m = n/N.  VMR > 1 clustered, < 1 dispersed (regular), ≈ 1 CSR;
    * z = √(2·chi²) − √(2·df − 1) is the classic normal approximation of
    * the chi² tail (Wilson–Hilferty's simpler cousin, the form CrimeStat
    * reports).  One output row: (n_points, n_cells, n_occupied, mean,
    * vmr, chi2, z).
    *
    * The quadrat frame is the axial BOUNDING RECTANGLE of the occupied
    * hexes — [min q..max q] × [min r..max r], a parallelogram in planar
    * webmerc (every quadrat the same area, as the test requires); empty
    * quadrats inside the frame enter the statistic through the algebraic
    * expansion Σ_all (x−m)² = Σ_occ x² − n²/N, so nothing is ever
    * materialized for them.  All data-dependent sums (n, Σx², bbox,
    * occupied count) are exact longs; the statistics are closed-form
    * doubles from those integers — partitioning-independent and
    * bit-replayable in SQL.
    *
    * Scale shape: one corpus shuffle to the occupied-cell frame, then a
    * single-row aggregate.  Null statistics when the frame degenerates
    * (N < 2 quadrats or no points). */
  def quadratHex(pts: DataFrame, sizeMeters: Double,
                 lonCol: String = "lon", latCol: String = "lat"): DataFrame = {
    require(sizeMeters > 0, "sizeMeters must be positive")
    val dec = geo.hexDecode(col("cell"), sizeMeters)
    val cells = hexCells(pts, sizeMeters, lonCol, latCol)
      .select(dec.getField("q").as("hq"), dec.getField("r").as("hr"),
        col("x"))
    val g = cells.agg(
      count(lit(1)).as("occ"),
      sum(col("x")).as("sum_x"),
      sum(col("x") * col("x")).as("sum_x2"),
      min(col("hq")).as("min_q"), max(col("hq")).as("max_q"),
      min(col("hr")).as("min_r"), max(col("hr")).as("max_r"))
    val nCells = (col("max_q") - col("min_q") + 1) *
      (col("max_r") - col("min_r") + 1)
    val nD = nCells.cast("double")
    val m = col("sum_x").cast("double") / nD
    val ss = col("sum_x2").cast("double") -
      col("sum_x").cast("double") * col("sum_x").cast("double") / nD
    val chi2 = ss / m
    val df = nD - 1.0
    val ok = col("sum_x") > 0 && nCells > 1
    g.select(
      coalesce(col("sum_x"), lit(0L)).as("n_points"),
      when(col("occ") > 0, nCells).otherwise(lit(0L)).as("n_cells"),
      col("occ").as("n_occupied"),
      when(ok, m).as("mean"),
      when(ok, ss / df / m).as("vmr"),
      when(ok, chi2).as("chi2"),
      when(ok, sqrt(lit(2.0) * chi2) - sqrt(lit(2.0) * df - 1.0)).as("z"))
  }

  /** Getis–Ord General G core (Getis & Ord 1992; ArcGIS "High/Low
    * Clustering"): G = Σ_ij w_ij·x_i·x_j / Σ_i≠j x_i·x_j with binary
    * ring-1 weights excluding self over the occupied-cell frame; E[G] =
    * W/(n(n−1)); Var from the published B0..B4 moment expansion with
    * S1 = 2W and S2 = 4·Σdeg² (symmetric binary weights).  High G vs
    * E[G] (z > 0) = high values cluster; low = low values cluster — the
    * global complement of [[giStarOn]].  One output row: (n_cells,
    * n_edges, g, e_g, z); null statistics when n < 4 (the (n−3) moment
    * term), no edges, or a degenerate denominator.
    *
    * Exactness: Σx, Σx², edge Σx_ix_j and Σdeg² are exact long sums;
    * Σx³/Σx⁴ accumulate as decimal(38,0) (a long would overflow at
    * x ≥ ~55k) — still exact integers, so everything downstream of the
    * single closed-form z expression replays bit-for-bit in SQL from
    * HUGEINT mirrors. */
  private def generalGOn(cells: DataFrame, disk: Column => Column): DataFrame = {
    val xd = col("x").cast("decimal(38,0)")
    val global = cells.agg(
      count(lit(1)).as("n"),
      sum(col("x")).as("m1"),
      sum(col("x") * col("x")).as("m2"),
      sum(xd * xd * xd).as("m3"),
      sum(xd * xd * xd * xd).as("m4"))
    val xi = cells.select(col("cell").as("tgt"), col("x").as("xi"))
    val deg = xi
      .select(col("tgt"), col("xi"), explode(disk(col("tgt"))).as("cell"))
      .where(col("cell") =!= col("tgt"))
      .join(cells, "cell")
      .groupBy("tgt")
      .agg(count(lit(1)).as("deg"),
        sum(col("xi").cast("decimal(38,0)") * col("x")).as("sg"))
    val edges = deg.agg(
      sum(col("deg")).as("w"),
      sum(col("deg") * col("deg")).as("sum_deg2"),
      sum(col("sg")).as("num_g"))
    val nD = col("n").cast("double")
    val wD = col("w").cast("double")
    val m1 = col("m1").cast("double")
    val m2 = col("m2").cast("double")
    val m3 = col("m3").cast("double")
    val m4 = col("m4").cast("double")
    val s1 = lit(2.0) * wD
    val s2 = lit(4.0) * col("sum_deg2").cast("double")
    val b0 = (nD * nD - lit(3.0) * nD + lit(3.0)) * s1 - nD * s2 + lit(3.0) * wD * wD
    val b1 = -((nD * nD - nD) * s1 - lit(2.0) * nD * s2 + lit(6.0) * wD * wD)
    val b2 = -(lit(2.0) * nD * s1 - (nD + lit(3.0)) * s2 + lit(6.0) * wD * wD)
    val b3 = lit(4.0) * (nD - lit(1.0)) * s1 - lit(2.0) * (nD + lit(1.0)) * s2 +
      lit(8.0) * wD * wD
    val b4 = s1 - s2 + wD * wD
    val denomPairs = m1 * m1 - m2
    val gStat = col("num_g").cast("double") / denomPairs
    val eG = wD / (nD * (nD - lit(1.0)))
    val eG2 = (b0 * m2 * m2 + b1 * m4 + b2 * m1 * m1 * m2 + b3 * m1 * m3 +
        b4 * m1 * m1 * m1 * m1) /
      (denomPairs * denomPairs * nD * (nD - lit(1.0)) * (nD - lit(2.0)) *
        (nD - lit(3.0)))
    val varG = eG2 - eG * eG
    val ok = col("n") > 3 && col("w") > 0 && denomPairs > 0 && varG > 0
    global.crossJoin(edges)
      .select(col("n").as("n_cells"),
        coalesce(col("w"), lit(0L)).as("n_edges"),
        when(ok, gStat).as("g"),
        when(ok, eG).as("e_g"),
        when(ok, (gStat - eG) / sqrt(varG)).as("z"))
  }

  /** General G over planar hexbins (ring-1 hex contiguity, self
    * excluded). */
  def generalGHex(pts: DataFrame, sizeMeters: Double,
                  lonCol: String = "lon", latCol: String = "lat",
                  valueCol: String = null): DataFrame = {
    require(sizeMeters > 0, "sizeMeters must be positive")
    generalGOn(hexCells(pts, sizeMeters, lonCol, latCol, valueCol),
      c => geo.hexDisk(c, 1))
  }

  /** Shared Knox core: the time-pair count (±1 exact-integer-bucket fan
    * self-join over (id, epoch µs)) and the final closed-form combine of
    * the three exact pair counts. */
  private def knoxFrom(base: DataFrame, tauUs: Long,
                       nSpace: DataFrame, nBoth: DataFrame): DataFrame = {
    val n = broadcast(base.agg(count(lit(1)).as("n")))
    val ta = base.select(col("pid").as("a_id"), col("t_us").as("a_us"),
      expr(s"t_us DIV ${tauUs}L").as("bucket"))
    val tb = base
      .select(col("pid").as("b_id"), col("t_us").as("b_us"),
        expr(s"t_us DIV ${tauUs}L").as("bb"))
      .select(col("b_id"), col("b_us"),
        explode(array(col("bb") - 1, col("bb"), col("bb") + 1)).as("bucket"))
    val nTime = ta.join(tb, "bucket")
      .where(col("a_id") < col("b_id") &&
        abs(col("a_us") - col("b_us")) <= lit(tauUs))
      .agg(count(lit(1)).as("n_time"))
    val pairs = expr("n * (n - 1) DIV 2")
    val eX = col("n_space").cast("double") * col("n_time").cast("double") /
      pairs.cast("double")
    n.crossJoin(nSpace).crossJoin(nTime).crossJoin(nBoth)
      .select(col("n").as("n_points"), col("n_space"), col("n_time"),
        col("n_spacetime"),
        when(col("n") > 1, eX).as("e_x"),
        when(col("n") > 1 && eX > 0,
          (col("n_spacetime").cast("double") - eX) / sqrt(eX)).as("z"))
  }

  private def knoxBase(pts: DataFrame, idCol: String, timeCol: String,
                       lonCol: String, latCol: String): DataFrame =
    pts.where(col(idCol).isNotNull && col(timeCol).isNotNull &&
        col(lonCol).isNotNull && col(latCol).isNotNull)
      .select(col(idCol).as("pid"),
        unix_micros(col(timeCol).cast("timestamp")).as("t_us"),
        col(lonCol).as("lon"), col(latCol).as("lat"))

  /** Knox space-time interaction test in the SQL-mirrorable chord
    * metric: counts of unordered event pairs that are close in space
    * (chord² ≤ `maxChord2`), close in time (|Δt| ≤ `tauSeconds`), and
    * close in BOTH — the classic epidemiology diagnostic (Knox 1964)
    * for whether space-time clustering exceeds what the marginal space
    * and time clusterings explain (disease outbreaks, crime sprees,
    * coordinated activity).  One output row: (n_points, n_space,
    * n_time, n_spacetime, e_x, z).
    *
    * E[X] = n_space·n_time / C(n,2) is the permutation expectation;
    * z = (X − E)/√E is Knox's Poisson approximation (adequate when E is
    * small relative to the marginals; for exact inference permute
    * timestamps outside the engine — the LISA stance).  All three pair
    * counts are exact longs, canonical-once (`id_a < id_b`); E and z are
    * the only doubles.
    *
    * Scale shape: the space count rides the one-shuffle cell-cover
    * self-join ([[GeoEngine.distanceJoinChord]]), the space-time count
    * the one-key (bucket, cell) co-location join, and the time count a
    * ±1 exact-integer-bucket fan self-join shuffling only (id, epoch µs)
    * — each true pair matches exactly one key, so no dedup stage
    * anywhere.  The time-pair stream can dominate when τ spans a large
    * fraction of the corpus's time range (it is Θ(n²·τ/range)); keep τ
    * small relative to the range, as the statistic itself assumes. */
  def knoxChord(pts: DataFrame, maxChord2: Double, tauSeconds: Long,
                idCol: String = "pt_id", timeCol: String = "ts",
                lonCol: String = "lon", latCol: String = "lat"): DataFrame = {
    require(maxChord2 > 0, "maxChord2 must be positive")
    require(tauSeconds > 0, "tauSeconds must be positive")
    val base = knoxBase(pts, idCol, timeCol, lonCol, latCol)
    val nSpace = GeoEngine.distanceJoinChord(
        base.select(col("pid").as("i"), col("lon"), col("lat")),
        base.select(col("pid").as("j"), col("lon"), col("lat")),
        maxChord2, queryId = "i", dataId = "j", broadcastQueries = false)
      .where(col("i") < col("j"))
      .agg(count(lit(1)).as("n_space"))
    val nBoth = GeoEngine.colocationJoinChord(
        pts.withColumn("_knox_ent", col(idCol)), idCol, "_knox_ent",
        maxChord2, tauSeconds, timeCol, lonCol, latCol,
        excludeSameEntity = false)
      .agg(count(lit(1)).as("n_spacetime"))
    knoxFrom(base, tauSeconds * 1000000L, nSpace, nBoth)
  }

  /** [[knoxChord]] with the spatial cut in exact ellipsoidal meters:
    * the same three one-shuffle pair streams, Karney geodesic only in
    * the accept/reject bands ([[GeoEngine.distanceJoin]] /
    * [[GeoEngine.colocationJoin]]). */
  def knox(pts: DataFrame, radiusMeters: Double, tauSeconds: Long,
           idCol: String = "pt_id", timeCol: String = "ts",
           lonCol: String = "lon", latCol: String = "lat"): DataFrame = {
    require(radiusMeters > 0, "radiusMeters must be positive")
    require(tauSeconds > 0, "tauSeconds must be positive")
    val base = knoxBase(pts, idCol, timeCol, lonCol, latCol)
    val nSpace = GeoEngine.distanceJoin(
        base.select(col("pid").as("i"), col("lon"), col("lat")),
        base.select(col("pid").as("j"), col("lon"), col("lat")),
        radiusMeters, queryId = "i", dataId = "j", broadcastQueries = false)
      .where(col("i") < col("j"))
      .agg(count(lit(1)).as("n_space"))
    val nBoth = GeoEngine.colocationJoin(
        pts.withColumn("_knox_ent", col(idCol)), idCol, "_knox_ent",
        radiusMeters, tauSeconds, timeCol, lonCol, latCol,
        excludeSameEntity = false)
      .agg(count(lit(1)).as("n_spacetime"))
    knoxFrom(base, tauSeconds * 1000000L, nSpace, nBoth)
  }

  /** Per-(cell, time-bin) point counts: the space-time cube aggregation
    * feeding Mann–Kendall.  Bins are exact integer DIV of epoch micros
    * (truncating — epochs are positive in practice; a double division
    * could round a near-boundary quotient across the integer). */
  private def hexBinnedCounts(pts: DataFrame, sizeMeters: Double,
                              binUs: Long, timeCol: String,
                              lonCol: String, latCol: String): DataFrame = {
    val xy = geo.transform(graft.geo.kernels.WebMercKernel(),
      forward = true, outDims = 2, col(lonCol), col(latCol))
    pts.select(geo.hexBin(xy.getField("x"), xy.getField("y"), sizeMeters)
        .as("cell"),
        unix_micros(col(timeCol).cast("timestamp")).as("t_us"))
      .where(col("cell").isNotNull && col("t_us").isNotNull)
      .select(col("cell"), expr(s"t_us DIV ${binUs}L").as("bin"))
      .groupBy("cell", "bin").agg(count(lit(1)).as("x"))
  }

  private def cubeBinnedCounts(pts: DataFrame, level: Int, binUs: Long,
                               timeCol: String, lonCol: String,
                               latCol: String): DataFrame =
    pts.select(geo.cellId(col(lonCol), col(latCol), level).as("cell"),
        unix_micros(col(timeCol).cast("timestamp")).as("t_us"))
      .where(col("cell").isNotNull && col("t_us").isNotNull)
      .select(col("cell"), expr(s"t_us DIV ${binUs}L").as("bin"))
      .groupBy("cell", "bin").agg(count(lit(1)).as("x"))

  /** Mann–Kendall monotonic-trend core over a (cell, bin, x) count
    * frame — the statistic behind "emerging hot-spot" analysis on a
    * space-time cube.  Each occupied cell gets the DENSE series over the
    * GLOBAL bin range (missing bins count 0, as in the space-time cube),
    * so every cell sees the same series length T and a cell that went
    * quiet trends down rather than disappearing.
    *
    * All data-dependent sums are exact longs: S = Σ sign(x_j − x_i)
    * over the T(T−1)/2 ordered bin pairs; the tie-corrected variance is
    * carried as 18·Var = T(T−1)(2T+5) − Σ_g t_g(t_g−1)(2t_g+5) (an exact
    * long); the continuity-corrected z = (S∓1)/sqrt(Var) and the Sen
    * (Theil) slope — the exact median of pairwise slopes
    * (x_j−x_i)/(bin_j−bin_i), averaging the two middle values for even
    * pair counts — are the only double arithmetic, replayable in SQL
    * from the same integers.  z is null when the variance degenerates
    * (T == 1, or the cell's whole series is one tied value).
    *
    * Scale: the input is already the aggregated cube (cells × T rows);
    * the pair self-join is cells × T(T−1)/2 — at T = a few hundred bins
    * this is still aggregate-frame sized, never corpus-sized. */
  private def mannKendallOn(binned: DataFrame): DataFrame = {
    val dense = denseCube(binned)
    val pairs = dense.select(col("cell"), col("bin").as("bi"),
        col("x").as("xi"))
      .join(dense.select(col("cell"), col("bin").as("bj"),
        col("x").as("xj")), "cell")
      .where(col("bi") < col("bj"))
    // Sen slope: exact median via row_number on the tiny pair frame
    // (ties in slope don't affect the selected VALUES; bi/bj break the
    // ordering deterministically anyway).
    val w = Window.partitionBy("cell")
      .orderBy(col("slope"), col("bi"), col("bj"))
    val sen = pairs
      .withColumn("slope", (col("xj") - col("xi")).cast("double") /
        (col("bj") - col("bi")).cast("double"))
      .withColumn("rn", row_number().over(w))
      .withColumn("cnt", count(lit(1)).over(Window.partitionBy("cell")))
      .where(col("rn") === expr("(cnt + 1) DIV 2") ||
        col("rn") === expr("cnt DIV 2 + 1"))
      .groupBy("cell").agg(avg(col("slope")).as("sen_slope"))
    // left join: with a single global bin there are no pairs at all —
    // cells must still come back (S = 0, zero variance, null slope)
    mkZOn(dense, "x").join(sen, Seq("cell"), "left")
      .select(col("cell"), col("n_bins"), col("s"), col("var_s18"),
        col("z"), col("sen_slope"))
  }

  /** Dense (cell, bin, x) cube over the GLOBAL bin range: every occupied
    * cell gets every bin, absent bins count 0. */
  private def denseCube(binned: DataFrame): DataFrame = {
    val range = broadcast(binned.agg(
      min(col("bin")).as("minb"), max(col("bin")).as("maxb")))
    binned.select(col("cell")).distinct()
      .crossJoin(range)
      .select(col("cell"), explode(sequence(col("minb"), col("maxb")))
        .as("bin"))
      .join(binned, Seq("cell", "bin"), "left")
      .na.fill(0L, Seq("x"))
  }

  /** Mann–Kendall S / tie-corrected 18·Var / continuity-corrected z over
    * a dense (cell, bin, `v`) frame — v may be an exact long or a
    * deterministic double (only order comparisons and equality enter the
    * statistic).  Null values form their own tie group and never
    * increment S.  Cells survive even when a single global bin leaves no
    * pairs (S = 0, zero variance, null z). */
  private def mkZOn(dense: DataFrame, v: String): DataFrame = {
    val pairs = dense.select(col("cell"), col("bin").as("bi"),
        col(v).as("xi"))
      .join(dense.select(col("cell"), col("bin").as("bj"),
        col(v).as("xj")), "cell")
      .where(col("bi") < col("bj"))
    val sAgg = pairs.groupBy("cell").agg(
      sum(when(col("xj") > col("xi"), 1L)
        .when(col("xj") < col("xi"), -1L).otherwise(0L)).as("s"))
    val ties = dense.groupBy(col("cell"), col(v))
      .agg(count(lit(1)).as("t"))
      .groupBy("cell")
      .agg(sum(col("t") * (col("t") - 1) * (lit(2) * col("t") + 5))
        .as("tie18"))
    val nBins = dense.groupBy("cell").agg(count(lit(1)).as("n_bins"))
    val varS18 = col("n_bins") * (col("n_bins") - 1) *
      (lit(2) * col("n_bins") + 5) - col("tie18")
    val sd = sqrt(varS18.cast("double") / 18.0)
    nBins.join(ties, "cell").join(sAgg, Seq("cell"), "left")
      .select(col("cell"), col("n_bins"),
        coalesce(col("s"), lit(0L)).as("s"),
        varS18.as("var_s18"),
        when(varS18 > 0,
          when(col("s") > 0, (col("s") - 1).cast("double") / sd)
            .when(col("s") < 0, (col("s") + 1).cast("double") / sd)
            .otherwise(lit(0.0))).as("z"))
  }

  /** Per-hex Mann–Kendall trend of point counts over `binSeconds` time
    * bins (dense over the corpus's global bin range).  Output one row
    * per occupied hex: (hq, hr, n_bins, s, var_s18, z, sen_slope) —
    * z > 1.96: significantly intensifying, z < −1.96: diminishing. */
  def mannKendallHex(pts: DataFrame, sizeMeters: Double, binSeconds: Long,
                     timeCol: String = "ts", lonCol: String = "lon",
                     latCol: String = "lat"): DataFrame = {
    require(sizeMeters > 0, "sizeMeters must be positive")
    require(binSeconds > 0, "binSeconds must be positive")
    val dec = geo.hexDecode(col("cell"), sizeMeters)
    mannKendallOn(hexBinnedCounts(pts, sizeMeters, binSeconds * 1000000L,
        timeCol, lonCol, latCol))
      .select(dec.getField("q").as("hq"), dec.getField("r").as("hr"),
        col("n_bins"), col("s"), col("var_s18"), col("z"), col("sen_slope"))
  }

  /** Mann–Kendall trend per cube-grid cell at `level`. */
  def mannKendallCells(pts: DataFrame, level: Int, binSeconds: Long,
                       timeCol: String = "ts", lonCol: String = "lon",
                       latCol: String = "lat"): DataFrame = {
    require(binSeconds > 0, "binSeconds must be positive")
    mannKendallOn(cubeBinnedCounts(pts, level, binSeconds * 1000000L,
      timeCol, lonCol, latCol))
  }

  /** Emerging hot-spot analysis — the space-time composition of the
    * suite (ArcGIS "Emerging Hot Spot Analysis" over a space-time cube):
    * 1. dense (cell, bin) count cube over the global bin range;
    * 2. space-time Gi* per (cell, bin) — neighborhood = spatial ring-1
    *    disk INCLUDING self × bins b−1..b+1 clipped to the range,
    *    occupied-cell universe, moments over the WHOLE cube (all
    *    cells × all bins), so a bin-local spike scores against the
    *    corpus-wide baseline;
    * 3. per-bin hot/cold flags at |z| ≥ `zCrit`, then a Mann–Kendall
    *    trend over each cell's z SERIES ([[mkZOn]] on deterministic
    *    doubles);
    * 4. a category per cell from the flag history + trend, evaluated in
    *    this fixed precedence (hot family first, then the cold mirror,
    *    else `none`):
    *    `new` — significant only in the final bin;
    *    `consecutive` — one uninterrupted trailing run of hot bins,
    *    under `hotFrac` of the series, never hot before it, never cold;
    *    `intensifying` / `diminishing` — hot in ≥ hotFrac of bins incl.
    *    the final one, with a significant up / down z-trend;
    *    `persistent` — ≥ hotFrac hot, no significant trend;
    *    `historical` — ≥ hotFrac hot but NOT hot in the final bin;
    *    `sporadic` — hot now, on-again-off-again before, never cold;
    *    `oscillating` — hot now, significantly cold somewhere before.
    *
    * Everything data-dependent is an exact long (cube counts, disk
    * sums, flag counts, MK S / 18·Var on the z series via sign
    * comparisons) or a deterministic double derived from them, so the
    * whole classification — z landscape, trend, category string — is
    * bit-replayable in SQL.  Scale: the corpus is touched once by the
    * binned aggregation; the 3·disk space-time fan, the z cube and the
    * T(T−1)/2 MK pairs all live on the aggregate frame. */
  private def emergingOn(binned: DataFrame, disk: Column => Column,
                         zCrit: Double, hotFrac: Double): DataFrame = {
    val dense = denseCube(binned)
    val global = broadcast(dense.agg(
      count(lit(1)).as("nn"), sum(col("x")).as("sum_x"),
      sum(col("x") * col("x")).as("sum_x2")))
    val fan = dense.select(col("cell").as("tgt"), col("bin").as("tbin"),
        explode(disk(col("cell"))).as("cell"))
      .select(col("tgt"), col("tbin"), col("cell"),
        explode(array(col("tbin") - 1, col("tbin"), col("tbin") + 1))
          .as("bin"))
    val nbr = fan.join(dense, Seq("cell", "bin"))
      .groupBy(col("tgt").as("cell"), col("tbin").as("bin"))
      .agg(sum(col("x")).as("wsum"), count(lit(1)).as("wn"))
    val m = col("sum_x").cast("double") / col("nn")
    val sDev = sqrt(col("sum_x2").cast("double") / col("nn") - m * m)
    val varTerm = (col("nn") * col("wn") - col("wn") * col("wn"))
      .cast("double") / (col("nn") - lit(1)).cast("double")
    val denom = sDev * sqrt(varTerm)
    val zed = dense.join(nbr, Seq("cell", "bin")).crossJoin(global)
      .select(col("cell"), col("bin"),
        when(col("nn") > 1 && denom > 0,
          (col("wsum").cast("double") - m * col("wn")) / denom).as("z"))
    val hot = col("z").isNotNull && col("z") >= zCrit
    val cold = col("z").isNotNull && col("z") <= -zCrit
    val agg = zed.groupBy("cell").agg(
      count(lit(1)).as("n_bins"),
      max(col("bin")).as("maxb"),
      sum(when(hot, 1L).otherwise(0L)).as("n_hot"),
      sum(when(cold, 1L).otherwise(0L)).as("n_cold"),
      max(when(!hot, col("bin"))).as("last_not_hot"),
      max(when(!cold, col("bin"))).as("last_not_cold"),
      max_by(col("z"), col("bin")).as("last_z"),
      max_by(when(hot, 1L).otherwise(0L), col("bin")).as("last_hot"),
      max_by(when(cold, 1L).otherwise(0L), col("bin")).as("last_cold"))
    val mk = mkZOn(zed, "z")
      .select(col("cell"), col("s").as("mk_s"), col("z").as("mk_z"))
    val lastHot = col("last_hot") === 1
    val lastCold = col("last_cold") === 1
    val fracHot = col("n_hot").cast("double") >=
      lit(hotFrac) * col("n_bins").cast("double")
    val fracCold = col("n_cold").cast("double") >=
      lit(hotFrac) * col("n_bins").cast("double")
    // trailing-run test: every hot bin sits after the last non-hot bin
    val trailHot = col("last_not_hot").isNotNull &&
      (col("maxb") - col("last_not_hot")) === col("n_hot")
    val trailCold = col("last_not_cold").isNotNull &&
      (col("maxb") - col("last_not_cold")) === col("n_cold")
    val up = col("mk_z").isNotNull && col("mk_z") >= zCrit
    val down = col("mk_z").isNotNull && col("mk_z") <= -zCrit
    val category =
      when(lastHot && col("n_hot") === 1 && col("n_cold") === 0, "new_hot")
        .when(lastHot && trailHot && !fracHot && col("n_cold") === 0,
          "consecutive_hot")
        .when(lastHot && fracHot && up, "intensifying_hot")
        .when(lastHot && fracHot && down, "diminishing_hot")
        .when(lastHot && fracHot, "persistent_hot")
        .when(!lastHot && fracHot && col("n_cold") === 0, "historical_hot")
        .when(lastHot && col("n_cold") === 0, "sporadic_hot")
        .when(lastHot, "oscillating_hot")
        .when(lastCold && col("n_cold") === 1 && col("n_hot") === 0,
          "new_cold")
        .when(lastCold && trailCold && !fracCold && col("n_hot") === 0,
          "consecutive_cold")
        .when(lastCold && fracCold && down, "intensifying_cold")
        .when(lastCold && fracCold && up, "diminishing_cold")
        .when(lastCold && fracCold, "persistent_cold")
        .when(!lastCold && fracCold && col("n_hot") === 0, "historical_cold")
        .when(lastCold && col("n_hot") === 0, "sporadic_cold")
        .when(lastCold, "oscillating_cold")
        .otherwise("none")
    agg.join(mk, "cell")
      .select(col("cell"), col("n_bins"), col("n_hot"), col("n_cold"),
        col("last_z"), col("mk_z"), category.as("category"))
  }

  /** Emerging hot-spot analysis over planar hexbins × `binSeconds` time
    * bins: one row per occupied hex — (hq, hr, n_bins, n_hot, n_cold,
    * last_z, mk_z, category). */
  def emergingHotSpotsHex(pts: DataFrame, sizeMeters: Double,
                          binSeconds: Long, zCrit: Double = 1.96,
                          hotFrac: Double = 0.9, timeCol: String = "ts",
                          lonCol: String = "lon",
                          latCol: String = "lat"): DataFrame = {
    require(sizeMeters > 0, "sizeMeters must be positive")
    require(binSeconds > 0, "binSeconds must be positive")
    require(zCrit > 0, "zCrit must be positive")
    require(hotFrac > 0 && hotFrac <= 1, "hotFrac must be in (0, 1]")
    val dec = geo.hexDecode(col("cell"), sizeMeters)
    emergingOn(hexBinnedCounts(pts, sizeMeters, binSeconds * 1000000L,
        timeCol, lonCol, latCol), c => geo.hexDisk(c, 1), zCrit, hotFrac)
      .select(dec.getField("q").as("hq"), dec.getField("r").as("hr"),
        col("n_bins"), col("n_hot"), col("n_cold"), col("last_z"),
        col("mk_z"), col("category"))
  }
}
