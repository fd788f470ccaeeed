package graft.geo.grids

import graft.geo.kernels.{CartKernel, IOUnits, PointKernel}
import graft.geo.math.Ellipsoid

/** `proj=deformation` — kinematic grid shift: x += dt * v(x) with the
  * velocity field read from a 3-channel GeoTIFF (east/north/up velocity,
  * mm/yr) or a CTable2 + GTX pair (reference:
  * /root/reference/src/transformations/deformation.cpp:63-440).
  * Operates on geocentric cartesian coordinates; velocities are looked
  * up at the geodetic position and rotated ENU -> XYZ. */
/** `proj=xyzgridshift` — geocentric-space gridded shift (reference:
  * /root/reference/src/transformations/xyzgridshift.cpp:38-285): look up
  * (dx, dy, dz) translations at the geodetic position and add them in
  * cartesian space.  `gridRefIsInput` = false means the grid is
  * referenced in the OUTPUT frame (e.g. NTF->RGF93), making the forward
  * direction the iterative one. */
final case class XyzGridshiftKernel(genGrids: List[List[Grid]],
                                    ell: Ellipsoid,
                                    gridRefIsInput: Boolean = true,
                                    multiplier: Double = 1.0)
    extends PointKernel {
  override def left: IOUnits.Value = IOUnits.Cartesian
  override def right: IOUnits.Value = IOUnits.Cartesian

  private val cart = CartKernel(ell)

  /** (dx, dy, dz) at the geodetic position of cartesian (x,y,z); null on
    * error (get_grid_values port). */
  private def gridValues(x: Double, y: Double, z: Double): Array[Double] = {
    val g = Array(x, y, z, 0.0)
    if (!cart.inv(g)) return null
    GridApply.threeChannelBilinear(genGrids, g(0), g(1),
      "x_translation", "y_translation", "z_translation",
      "metre", multiplier)
  }

  private def direct(v: Array[Double], factor: Double): Boolean = {
    val d = gridValues(v(0), v(1), v(2))
    if (d == null) return false
    v(0) += factor * d(0); v(1) += factor * d(1); v(2) += factor * d(2)
    true
  }

  private def iterative(v: Array[Double], factor: Double): Boolean = {
    val x0 = v(0); val y0 = v(1); val z0 = v(2)
    var px = x0; var py = y0; var pz = z0
    var i = 0
    var continue = true
    while (continue && i < 10) {
      val d = gridValues(px, py, pz)
      if (d == null) return false
      val dx = factor * d(0); val dy = factor * d(1); val dz = factor * d(2)
      val err = { val a = (px - x0) - dx; val b = (py - y0) - dy
        val c = (pz - z0) - dz; a * a + b * b + c * c }
      px = x0 + dx; py = y0 + dy; pz = z0 + dz
      if (err < 1e-10) continue = false
      i += 1
    }
    v(0) = px; v(1) = py; v(2) = pz
    true
  }

  def fwd(v: Array[Double]): Boolean =
    if (gridRefIsInput) direct(v, 1.0) else iterative(v, 1.0)
  def inv(v: Array[Double]): Boolean =
    if (gridRefIsInput) iterative(v, -1.0) else direct(v, -1.0)
}

final case class DeformationKernel(genGrids: List[List[Grid]],
                                   hgrids: List[List[Grid]],
                                   vgrids: List[List[Grid]],
                                   ell: Ellipsoid,
                                   dt: Double, tEpoch: Double)
    extends PointKernel {
  override def left: IOUnits.Value = IOUnits.Cartesian
  override def right: IOUnits.Value = IOUnits.Cartesian

  private val cart = CartKernel(ell)

  /** velocities (vx, vy, vz) m/yr in ENU at geodetic (lam, phi), or null
    * (reference: pj_deformation_get_grid_values + the 3-sample bilinear
    * helper, grids.cpp:3845-3922). */
  private def gridValues(lam: Double, phi: Double): Array[Double] =
    GridApply.threeChannelBilinear(genGrids, lam, phi,
      "east_velocity", "north_velocity", "up_velocity",
      "millimetres per year", 1.0 / 1000.0)

  /** ENU shift at the geodetic position of a cartesian point, rotated to
    * XYZ (reference: pj_deformation_get_grid_shift). Null on error. */
  private def gridShift(x: Double, y: Double, z: Double): Array[Double] = {
    val g = Array(x, y, z, 0.0)
    if (!cart.inv(g)) return null
    val lam = g(0); val phi = g(1)
    var e = 0.0; var n = 0.0; var u = 0.0
    if (genGrids.nonEmpty) {
      val v = gridValues(lam, phi)
      if (v == null) return null
      e = v(0); n = v(1); u = v(2)
    } else {
      val h = GridApply.hgridValue(hgrids, lam, phi)
      if (h == null) return null
      val uv = GridApply.vgridValue(vgrids, lam, phi, 1.0)
      if (uv.isNaN) return null
      // stored as mm/yr
      e = h(0) / 1000.0
      n = h(1) / 1000.0
      u = uv / 1000.0
    }
    val sp = math.sin(phi); val cp = math.cos(phi)
    val sl = math.sin(lam); val cl = math.cos(lam)
    Array(
      -sp * cl * n - sl * e + cp * cl * u,
      -sp * sl * n + cl * e + cp * sl * u,
      cp * n + sp * u)
  }

  private def dtOf(v: Array[Double]): Double =
    if (!dt.isNaN) dt
    else {
      val t = v(3)
      if (t.isNaN || t.isInfinite) Double.NaN else t - tEpoch
    }

  def fwd(v: Array[Double]): Boolean = {
    val d = dtOf(v)
    if (d.isNaN) return false
    val s = gridShift(v(0), v(1), v(2))
    if (s == null) return false
    v(0) += d * s(0); v(1) += d * s(1); v(2) += d * s(2)
    true
  }

  /** iterative reverse (reference: pj_deformation_reverse_shift). */
  def inv(v: Array[Double]): Boolean = {
    val d = dtOf(v)
    if (d.isNaN) return false
    var delta = gridShift(v(0), v(1), v(2))
    if (delta == null) return false
    val z0 = delta(2)
    var ox = v(0) - d * delta(0)
    var oy = v(1) - d * delta(1)
    var oz = v(2) + d * delta(2)
    var i = 10
    var continue = true
    while (continue) {
      delta = gridShift(ox, oy, oz)
      if (delta == null) continue = false // keep current approximation
      else {
        val dx = ox + d * delta(0) - v(0)
        val dy = oy + d * delta(1) - v(1)
        val dz = oz - d * delta(2) - v(2)
        ox += dx; oy += dy; oz += dz
        i -= 1
        if (i == 0 || math.hypot(dx, dy) <= 1e-8) continue = false
      }
    }
    v(0) = ox; v(1) = oy; v(2) = v(2) - d * z0
    true
  }
}
