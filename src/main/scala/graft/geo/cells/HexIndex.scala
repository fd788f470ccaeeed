package graft.geo.cells

import graft.geo.kernels.IseaKernel
import graft.geo.math.Ellipsoid

/** Hexagonal cell indexes — the "H3" half of the north rule's "H3/S2"
  * phrase (the square S2-style index is [[CellIndex]]).
  *
  * Two tiers, matching how hex grids are actually used at scale:
  *
  *  1. '''Planar axial hexbin''' over projected (x, y) metres — pointy-top
  *     hexagons of circumradius `size`, addressed by axial (q, r)
  *     coordinates with cube rounding (the canonical public algorithm;
  *     every fractional point maps to the hex whose center is nearest).
  *     Closed-form both ways, so it is SQL-expressible and the driver
  *     verifies it against a full DuckDB replay (q_hex_occupancy).
  *
  *  2. '''Icosahedral equal-area DGGS''' — ISEA aperture-3/4 hexagon
  *     addressing (the same discrete-global-grid family H3 belongs to;
  *     H3 is ISEA-style aperture 7).  Snyder's equal-area icosahedral
  *     projection plus in-quad hex binning come from the gie-validated
  *     [[IseaKernel]] (`+proj=isea +mode=hex`, behavioral reference
  *     /root/reference/src/projections/isea.cpp); this object packs the
  *     (quad, dx, dy) address into one 64-bit id.  Equal-area cells make
  *     per-cell counts directly comparable across the globe — the
  *     property square cube-face cells lack.
  *
  * All methods are static and allocation-light: they are called from
  * generated code inside whole-stage codegen.
  */
object HexIndex extends Serializable {
  val Sqrt3: Double = math.sqrt(3.0)

  // ---- planar axial hexbin (pointy-top, circumradius `size`) ----

  /** fractional axial q for projected (x, y) */
  def fracQ(x: Double, y: Double, size: Double): Double =
    (Sqrt3 / 3.0 * x - y / 3.0) / size

  /** fractional axial r for projected (x, y) */
  def fracR(y: Double, size: Double): Double =
    (2.0 / 3.0 * y) / size

  /** Cube rounding: round each cube coordinate, then repair the one with
    * the largest rounding error so q+r+s == 0 (nearest hex center wins).
    * The comparison chain (strict >, q-then-r-then-s) is mirrored verbatim
    * in the DuckDB oracle SQL — keep the two in lockstep. */
  def cubeRoundQ(fq: Double, fr: Double): Long = {
    val fs = -fq - fr
    val rq = math.floor(fq + 0.5); val rr = math.floor(fr + 0.5)
    val rs = math.floor(fs + 0.5)
    if (math.abs(rq - fq) > math.abs(rr - fr) &&
        math.abs(rq - fq) > math.abs(rs - fs)) (-rr - rs).toLong
    else rq.toLong
  }

  def cubeRoundR(fq: Double, fr: Double): Long = {
    val fs = -fq - fr
    val rq = math.floor(fq + 0.5); val rr = math.floor(fr + 0.5)
    val rs = math.floor(fs + 0.5)
    if (math.abs(rq - fq) > math.abs(rr - fr) &&
        math.abs(rq - fq) > math.abs(rs - fs)) rr.toLong
    else if (math.abs(rr - fr) > math.abs(rs - fs)) (-rq - rs).toLong
    else rr.toLong
  }

  /** projected (x, y) -> packed axial hex id */
  def bin(x: Double, y: Double, size: Double): Long = {
    val fq = fracQ(x, y, size); val fr = fracR(y, size)
    pack(cubeRoundQ(fq, fr), cubeRoundR(fq, fr))
  }

  /** (q, r) -> 64-bit id: zigzag each into 32 bits.  |q|,|r| < 2^31 always
    * holds for physical inputs (at size 1 m the webmerc plane spans
    * ~2^25 hexes). */
  def pack(q: Long, r: Long): Long = {
    val zq = (q << 1) ^ (q >> 63); val zr = (r << 1) ^ (r >> 63)
    require((zq >>> 32) == 0 && (zr >>> 32) == 0,
      s"hex axial coordinate out of 32-bit range: ($q, $r)")
    (zq << 32) | zr
  }

  def unpackQ(id: Long): Long = { val z = id >>> 32; (z >>> 1) ^ -(z & 1L) }
  def unpackR(id: Long): Long = { val z = id & 0xFFFFFFFFL; (z >>> 1) ^ -(z & 1L) }

  /** hex center in projected metres */
  def centerX(id: Long, size: Double): Double =
    size * Sqrt3 * (unpackQ(id) + unpackR(id) / 2.0)
  def centerY(id: Long, size: Double): Double =
    size * 1.5 * unpackR(id)

  private val Dirs: Array[(Long, Long)] =
    Array((1L, 0L), (1L, -1L), (0L, -1L), (-1L, 0L), (-1L, 1L), (0L, 1L))

  /** the 6 adjacent hexes */
  def neighbors(id: Long): Array[Long] = {
    val q = unpackQ(id); val r = unpackR(id)
    Dirs.map { case (dq, dr) => pack(q + dq, r + dr) }
  }

  /** all hexes within grid distance k (inclusive): 3k^2+3k+1 cells —
    * candidate generation for hex-indexed joins */
  def disk(id: Long, k: Int): Array[Long] = {
    require(k >= 0 && k <= 64, s"hex disk k=$k outside [0, 64]")
    val q = unpackQ(id); val r = unpackR(id)
    val out = new Array[Long](3 * k * k + 3 * k + 1)
    var idx = 0
    var dq = -k
    while (dq <= k) {
      var dr = math.max(-k, -dq - k)
      val hi = math.min(k, -dq + k)
      while (dr <= hi) {
        out(idx) = pack(q + dq, r + dr); idx += 1
        dr += 1
      }
      dq += 1
    }
    out
  }

  /** hexes at exactly grid distance k: 6k cells (k=0 -> the cell) */
  def ring(id: Long, k: Int): Array[Long] =
    if (k == 0) Array(id)
    else {
      val inner = disk(id, k - 1).toSet
      disk(id, k).filterNot(inner.contains)
    }

  /** hex grid distance between two packed ids */
  def gridDistance(a: Long, b: Long): Long = {
    val dq = unpackQ(a) - unpackQ(b); val dr = unpackR(a) - unpackR(b)
    (math.abs(dq) + math.abs(dr) + math.abs(dq + dr)) / 2
  }

  // ---- ISEA equal-area hex DGGS ----

  /** id layout (low to high): [res:5][ap:1][quad:4][zz(dx):27][zz(dy):27]
    * — bit 5 is 0 for aperture 3, 1 for aperture 4. */
  final val MaxIseaResolution = 25 // ap4 sidelength 2^res must fit 26 bits

  def iseaPack(resolution: Int, aperture: Int, quad: Long,
               dx: Long, dy: Long): Long = {
    val zx = (dx << 1) ^ (dx >> 63); val zy = (dy << 1) ^ (dy >> 63)
    require((zx >>> 27) == 0 && (zy >>> 27) == 0,
      s"isea hex coordinate out of range: ($dx, $dy)")
    val apBit = if (aperture == 4) 1L else 0L
    resolution.toLong | (apBit << 5) | (quad << 6) | (zx << 10) | (zy << 37)
  }

  def iseaResolution(id: Long): Int = (id & 0x1FL).toInt
  def iseaAperture(id: Long): Int = if (((id >> 5) & 1L) == 1L) 4 else 3
  def iseaQuad(id: Long): Int = ((id >> 6) & 0xFL).toInt

  /** Shared per-(resolution, aperture) binner.  The unit-sphere kernel
    * (a=1, no false origin) emits the raw reference hex address
    * (dx*16+quad, dy) which we round and pack; a fwd failure (possible
    * only for non-finite input) surfaces as null. */
  final class IseaBinner(val resolution: Int, val aperture: Int)
      extends Serializable {
    require(aperture == 3 || aperture == 4,
      s"isea aperture $aperture not in {3, 4}")
    require(resolution >= 0 && resolution <= MaxIseaResolution,
      s"isea resolution $resolution outside [0, $MaxIseaResolution]")

    @transient private lazy val kernel: IseaKernel =
      IseaKernel(Ellipsoid(1.0, 0.0), orientPole = false, orientSet = false,
        oAzIn = 0.0, oLonIn = None, oLatIn = None,
        mode = "hex", resolution = resolution, aperture = aperture)

    /** boxed so codegen can null-propagate; lon/lat in degrees */
    def id(lonDeg: Double, latDeg: Double): java.lang.Long = {
      val v = new Array[Double](4)
      v(0) = math.toRadians(lonDeg); v(1) = math.toRadians(latDeg)
      if (!kernel.fwd(v)) return null
      val l0 = math.round(v(0)); val dy = math.round(v(1))
      val quad = java.lang.Math.floorMod(l0, 16L)
      val dx = java.lang.Math.floorDiv(l0, 16L)
      java.lang.Long.valueOf(iseaPack(resolution, aperture, quad, dx, dy))
    }
  }
}
