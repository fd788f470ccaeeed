package graft.geo.grids

import graft.geo.kernels.{IOUnits, PointKernel}
import graft.geo.math.{ProjMath => M}

/** Bilinear grid-shift application — the numeric core of the reference's
  * `hgridshift`/`vgridshift` operations (pj_hgrid_interpolate /
  * pj_hgrid_apply_internal, /root/reference/src/grids.cpp:3325-3540, and
  * read_vgrid_value, :3650-3800).  Forward adds the interpolated shift;
  * the inverse is a fixed-point iteration (≤10 rounds, 1e-12 rad
  * tolerance) that can hop to a neighbouring grid when the iterate
  * leaves the initial one. */
object GridApply {
  private final val MaxIter = 10
  private final val Tol = 1e-12

  /** Accepts every grid: the [[find]] filter of all but `gridshift`. */
  final val AnyGrid: Grid => Boolean = _ => true

  /** The finest grid containing the point across the ordered list of grid
    * sets, or null; a null grid matches anywhere.  Extents widen by
    * `relTol` of their resolution (hgridshift's REL_TOLERANCE, 0 for the
    * others), and only top-level grids that `accept` takes are searched
    * (gridshift's TYPE filter).  reference: findGrid +
    * HorizontalShiftGridSet::gridAt (grids.cpp:2776-2790, 3253-3263),
    * pj_find_generic_grid (:3828-3839). */
  def find(sets: List[List[Grid]], x: Double, y: Double, relTol: Double,
           accept: Grid => Boolean): Grid = {
    var ss = sets
    while (ss.nonEmpty) {
      var gs = ss.head
      while (gs.nonEmpty) {
        val g = gs.head
        if (g.isNull) return g
        val eps = (g.extent.resX + g.extent.resY) * relTol
        if (accept(g) && g.extent.containsPoint(x, y, eps)) return g.gridAt(x, y, relTol)
        gs = gs.tail
      }
      ss = ss.tail
    }
    null
  }

  /** Bilinear interpolation at a point already normalized to the grid's
    * south-west origin; returns (lonShift, latShift) in radians or null
    * outside the grid (reference: pj_hgrid_interpolate,
    * grids.cpp:3325-3395). */
  private def interpolate(g: Grid, lamN: Double, phiN: Double): Array[Double] = {
    var tl = lamN / g.extent.resX
    var il = if (tl.isNaN) 0 else math.floor(tl).toInt
    var tp = phiN / g.extent.resY
    var ip = if (tp.isNaN) 0 else math.floor(tp).toInt
    var fl = tl - il
    var fp = tp - ip
    val edge = 10 * Grids.RelTol
    if (il < 0) {
      if (il == -1 && fl > 1 - edge) { il += 1; fl = 0.0 } else return null
    } else if (il + 1 >= g.width) {
      if (il + 1 == g.width && fl < edge) { il -= 1; fl = 1.0 } else return null
    }
    if (ip < 0) {
      if (ip == -1 && fp > 1 - edge) { ip += 1; fp = 0.0 } else return null
    } else if (ip + 1 >= g.height) {
      if (ip + 1 == g.height && fp < edge) { ip -= 1; fp = 1.0 } else return null
    }
    val i00 = ip * g.width + il
    val i10 = i00 + 1
    val i01 = i00 + g.width
    val i11 = i01 + 1
    val m10 = fl * (1.0 - fp)
    val m11 = fl * fp
    val m01 = (1.0 - fl) * fp
    val m00 = (1.0 - fl) * (1.0 - fp)
    val lon = g.channels(0)
    val lat = g.channels(1)
    Array(
      m00 * lon(i00) + m10 * lon(i10) + m01 * lon(i01) + m11 * lon(i11),
      m00 * lat(i00) + m10 * lat(i10) + m01 * lat(i01) + m11 * lat(i11))
  }

  /** Apply the horizontal shift; returns (lam, phi) or null on error
    * (reference: pj_hgrid_apply + pj_hgrid_apply_internal,
    * grids.cpp:3400-3540). */
  def applyH(sets: List[List[Grid]], lam: Double, phi: Double,
             forward: Boolean): Array[Double] = {
    var grid = find(sets, lam, phi, Grids.RelTol, AnyGrid)
    if (grid == null) return null
    if (grid.isNull) return Array(lam, phi)

    var ext = grid.extent
    val epsilon = (ext.resX + ext.resY) * Grids.RelTol
    var tbLam = lam - ext.west
    if (tbLam + epsilon < 0) tbLam += 2 * math.Pi
    else if (tbLam - epsilon > ext.east - ext.west) tbLam -= 2 * math.Pi
    var tbPhi = phi - ext.south

    val t0 = interpolate(grid, tbLam, tbPhi)
    if (t0 == null) return null
    if (forward)
      return Array(lam + t0(0), phi + t0(1))

    var tLam = tbLam - t0(0)
    var tPhi = tbPhi - t0(1)
    var i = MaxIter
    var difLam = Double.MaxValue
    var difPhi = Double.MaxValue
    var continueLoop = true
    while (continueLoop) {
      val del = interpolate(grid, tLam, tPhi)
      if (del == null) {
        // iterate left the grid: hop to the grid containing the current
        // estimate, or settle for the first approximation
        val lpLam = tLam + ext.west
        val lpPhi = tPhi + ext.south
        val ng = find(sets, lpLam, lpPhi, Grids.RelTol, AnyGrid)
        if (ng == null || (ng eq grid) || ng.isNull) {
          // settle for the first approximation (reference logs
          // "using first approximation" here and carries on)
          continueLoop = false
        } else {
          grid = ng
          ext = grid.extent
          tLam = lpLam - ext.west
          tPhi = lpPhi - ext.south
          tbLam = lam - ext.west
          if (tbLam + epsilon < 0) tbLam += 2 * math.Pi
          else if (tbLam - epsilon > ext.east - ext.west) tbLam -= 2 * math.Pi
          tbPhi = phi - ext.south
          difLam = Double.MaxValue
          difPhi = Double.MaxValue
        }
      } else {
        difLam = tLam + del(0) - tbLam
        difPhi = tPhi + del(1) - tbPhi
        tLam -= difLam
        tPhi -= difPhi
        i -= 1
        if (i == 0 || difLam * difLam + difPhi * difPhi <= Tol * Tol)
          continueLoop = false
      }
    }
    // i exhausted -> no convergence -> error; a failed interpolation with
    // iterations left keeps the first approximation (reference behaviour)
    if (i == 0) return null
    Array(M.adjlon(tLam + ext.west), tPhi + ext.south)
  }

  /** Shared 3-channel bilinear sampler over a generic-grid list: channel
    * indices resolved by description (positional 0/1/2 defaults), a unit
    * check on the first channel, longitude wrap, edge-clamped bilinear,
    * and a scale applied to all three outputs — one body for the
    * xyzgridshift translations and the deformation velocities (reference:
    * the 3-sample bilinear helper, grids.cpp:3845-3922).  Null on error;
    * (0,0,0) on a null grid. */
  def threeChannelBilinear(sets: List[List[Grid]], lam: Double, phi: Double,
                           descA: String, descB: String, descC: String,
                           expectedUnit: String, scale: Double): Array[Double] = {
    val grid = find(sets, lam, phi, 0.0, AnyGrid)
    if (grid == null) return null
    if (grid.isNull) return Array(0.0, 0.0, 0.0)
    if (grid.channels.length < 3) return null
    val sA = grid.channelOf(descA, 0)
    val sB = grid.channelOf(descB, 1)
    val sC = grid.channelOf(descC, 2)
    val unit = grid.item("UNITTYPE", sA)
    if (unit.nonEmpty && unit != expectedUnit) return null
    val ext = grid.extent
    if (!ext.geographic) return null
    var gx = (lam - ext.west) / ext.resX
    if (lam < ext.west) gx = (lam + 2 * math.Pi - ext.west) / ext.resX
    else if (lam > ext.east) gx = (lam - 2 * math.Pi - ext.west) / ext.resX
    val gy = (phi - ext.south) / ext.resY
    val ix = gx.toInt
    val iy = gy.toInt
    if (ix < 0 || iy < 0 || ix >= grid.width || iy >= grid.height) return null
    val ix2 = math.min(ix + 1, grid.width - 1)
    val iy2 = math.min(iy + 1, grid.height - 1)
    def s(idx: Int, xx: Int, yy: Int): Double =
      grid.channels(idx)(yy * grid.width + xx)
    val fl = gx - ix
    val fp = gy - iy
    val m10 = fl * (1.0 - fp)
    val m11 = fl * fp
    val m01 = (1.0 - fl) * fp
    val m00 = (1.0 - fl) * (1.0 - fp)
    def bil(idx: Int): Double =
      m00 * s(idx, ix, iy) + m10 * s(idx, ix2, iy) +
        m01 * s(idx, ix, iy2) + m11 * s(idx, ix2, iy2)
    Array(bil(sA) * scale, bil(sB) * scale, bil(sC) * scale)
  }

  /** Raw interpolated (lonShift, latShift) at a point, no application —
    * reference: pj_hgrid_value (grids.cpp:3546-3600), which reads WITHOUT
    * the west-positive compensation (compensateNTConvention = false); the
    * loaders bake that negation into the arrays per format, so it is
    * undone here exactly where the raw convention requires it. */
  def hgridValue(sets: List[List[Grid]], lam: Double, phi: Double): Array[Double] = {
    val grid = find(sets, lam, phi, Grids.RelTol, AnyGrid)
    if (grid == null) return null
    if (grid.isNull) return Array(0.0, 0.0)
    val ext = grid.extent
    val epsilon = (ext.resX + ext.resY) * Grids.RelTol
    var tbLam = lam - ext.west
    if (tbLam + epsilon < 0) tbLam += 2 * math.Pi
    else if (tbLam - epsilon > ext.east - ext.west) tbLam -= 2 * math.Pi
    val r = interpolate(grid, tbLam, phi - ext.south)
    // reference pj_hgrid_value passes compensateNTConvention=false: the
    // classic formats come back raw west-positive, GeoTIFF grids always
    // east-positive — our arrays are normalized east-positive, so undo
    // the normalization only where the raw convention differs
    if (r == null) null
    else Array(if (grid.rawWestPositive) -r(0) else r(0), r(1))
  }

  /** Sample the vertical grid value (reference: read_vgrid_value,
    * grids.cpp — bilinear with per-corner nodata weighting and
    * full-world longitude wrap); NaN on error/outside.  A corner is
    * nodata by the grid's own nodata value when it has one (GeoTIFF,
    * GTiffVGrid::isNodata), else by the GTX rule (|v·multiplier| > 1000
    * or −88.8888, GTXVerticalShiftGrid::isNodata, grids.cpp:359-366). */
  def vgridValue(sets: List[List[Grid]], lam: Double, phi: Double,
                 vmultiplier: Double): Double = {
    if (phi.isNaN || lam.isNaN) return Double.NaN
    val grid = find(sets, lam, phi, 0.0, AnyGrid)
    if (grid == null) return Double.NaN
    if (grid.isNull) return 0.0
    val ext = grid.extent
    var gx = (lam - ext.west) / ext.resX
    if (lam < ext.west) {
      if (ext.fullWorldLongitude) {
        val w = grid.width.toDouble
        gx = ((gx + w) % w + w) % w
      } else gx = (lam + 2 * math.Pi - ext.west) / ext.resX
    } else if (lam > ext.east) {
      if (ext.fullWorldLongitude) {
        val w = grid.width.toDouble
        gx = ((gx + w) % w + w) % w
      } else gx = (lam - 2 * math.Pi - ext.west) / ext.resX
    }
    var gy = (phi - ext.south) / ext.resY
    var ix = math.floor(gx).toInt
    if (ix < 0 || ix >= grid.width) return Double.NaN
    var iy = math.floor(gy).toInt
    if (iy < 0 || iy >= grid.height) return Double.NaN
    gx -= ix
    gy -= iy
    var ix2 = ix + 1
    if (ix2 >= grid.width)
      ix2 = if (ext.fullWorldLongitude) 0 else grid.width - 1
    var iy2 = iy + 1
    if (iy2 >= grid.height) iy2 = grid.height - 1

    val values = grid.channels(0)
    val va = values(iy * grid.width + ix)
    val vb = values(iy * grid.width + ix2)
    val vc = values(iy2 * grid.width + ix)
    val vd = values(iy2 * grid.width + ix2)
    val gxy = gx * gy
    val wa = 1.0 - gx - gy + gxy
    val wb = gx - gxy
    val wc = gy - gxy
    val wd = gxy
    def ok(v: Float): Boolean =
      if (grid.noData.isDefined) !grid.isNodata(v)
      else !(v * vmultiplier > 1000 || v * vmultiplier < -1000 || v == -88.88880f)
    val aOk = ok(va)
    val bOk = ok(vb)
    val cOk = ok(vc)
    val dOk = ok(vd)
    val nOk = (if (aOk) 1 else 0) + (if (bOk) 1 else 0) +
      (if (cOk) 1 else 0) + (if (dOk) 1 else 0)
    val value =
      if (nOk == 4) va * wa + vb * wb + vc * wc + vd * wd
      else if (nOk == 0) return Double.NaN
      else {
        var s = 0.0; var tw = 0.0
        if (aOk) { s += va * wa; tw += wa }
        if (bOk) { s += vb * wb; tw += wb }
        if (cOk) { s += vc * wc; tw += wc }
        if (dOk) { s += vd * wd; tw += wd }
        s / tw
      }
    value * vmultiplier
  }
}

/** `proj=hgridshift` — horizontal datum shift by NTv2/CTable2 grid
  * (reference: /root/reference/src/transformations/hgridshift.cpp:11-200).
  * Optional time gating via `+t_epoch`/`+t_final` applies the shift only
  * to observations older than the epoch. */
final case class HgridshiftKernel(grids: List[List[Grid]],
                                  tEpoch: Double = 0.0,
                                  tFinal: Double = 0.0) extends PointKernel {
  override def left: IOUnits.Value = IOUnits.Radians
  override def right: IOUnits.Value = IOUnits.Radians

  private def gated(t: Double): Boolean =
    !(tFinal == 0.0 || tEpoch == 0.0) && !(t < tEpoch && tFinal > tEpoch)

  def fwd(v: Array[Double]): Boolean = {
    if (gated(v(3)) || grids.isEmpty) return true
    val r = GridApply.applyH(grids, v(0), v(1), forward = true)
    if (r == null) false else { v(0) = r(0); v(1) = r(1); true }
  }
  def inv(v: Array[Double]): Boolean = {
    if (gated(v(3)) || grids.isEmpty) return true
    val r = GridApply.applyH(grids, v(0), v(1), forward = false)
    if (r == null) false else { v(0) = r(0); v(1) = r(1); true }
  }
}

/** `proj=vgridshift` — vertical (geoid) shift from a GTX grid
  * (reference: /root/reference/src/transformations/vgridshift.cpp:11-240).
  * The historical forward direction subtracts the grid value, i.e. the
  * default `+multiplier` is -1. */
final case class VgridshiftKernel(grids: List[List[Grid]],
                                  multiplier: Double = -1.0,
                                  tEpoch: Double = 0.0,
                                  tFinal: Double = 0.0) extends PointKernel {
  override def left: IOUnits.Value = IOUnits.Radians
  override def right: IOUnits.Value = IOUnits.Radians

  private def gated(t: Double): Boolean =
    !(tFinal == 0.0 || tEpoch == 0.0) && !(t < tEpoch && tFinal > tEpoch)

  def fwd(v: Array[Double]): Boolean = {
    if (gated(v(3)) || grids.isEmpty) return true
    val value = GridApply.vgridValue(grids, v(0), v(1), multiplier)
    if (value.isNaN) false else { v(2) += value; true }
  }
  def inv(v: Array[Double]): Boolean = {
    if (gated(v(3)) || grids.isEmpty) return true
    val value = GridApply.vgridValue(grids, v(0), v(1), multiplier)
    if (value.isNaN) false else { v(2) -= value; true }
  }
}
