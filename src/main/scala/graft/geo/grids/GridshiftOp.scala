package graft.geo.grids

import graft.geo.kernels.{IOUnits, PointKernel}
import graft.geo.math.{ProjMath => M}

/** `proj=gridshift` — unified GeoTIFF grid shift (reference:
  * /root/reference/src/transformations/gridshift.cpp:48-1028).
  * Handles HORIZONTAL_OFFSET (+ aux vertical grids),
  * GEOGRAPHIC_3D_OFFSET, the three VERTICAL_* types, bilinear or
  * biquadratic (NOAA NCAT qterp) interpolation, projected-CRS grids
  * (easting/northing offsets in metres) and constant offsets.
  */
final case class GridshiftKernel(gridSets: List[List[Grid]],
                                 interpolationOverride: String = "",
                                 noZTransform: Boolean = false)
    extends PointKernel {

  // ---- setup (checkGridTypes, gridshift.cpp:127-219) -----------------------
  private var hasHorizontal = false
  private var hasGeographic3D = false
  private var hasEllipsoidalHeight = false
  private var hasVertToVert = false
  private var hasGeogToVert = false
  private var offsetX = 0.0
  private var offsetY = 0.0
  val isProjectedCoord: Boolean = {
    var proj = false
    var offX = ""; var offY = ""
    var gridCount = 0
    for (set <- gridSets; g <- set if !g.isNull) {
      gridCount += 1
      g.gridType match {
        case "HORIZONTAL_OFFSET" =>
          hasHorizontal = true
          if (offX.isEmpty) offX = g.item("constant_offset", 0)
          if (offY.isEmpty) offY = g.item("constant_offset", 1)
        case "GEOGRAPHIC_3D_OFFSET" => hasGeographic3D = true
        case "ELLIPSOIDAL_HEIGHT_OFFSET" => hasEllipsoidalHeight = true
        case "VERTICAL_OFFSET_VERTICAL_TO_VERTICAL" => hasVertToVert = true
        case "VERTICAL_OFFSET_GEOGRAPHIC_TO_VERTICAL" => hasGeogToVert = true
        case "" => throw Grids.BadGrid("missing TYPE metadata item in grid(s)")
        case o => throw Grids.BadGrid(s"unhandled TYPE metadata item $o")
      }
      proj = !g.extent.geographic
    }
    if (offX.nonEmpty || offY.nonEmpty) {
      if (gridCount > 1)
        throw Grids.BadGrid("only one grid with shift offset supported")
      offsetX = if (offX.isEmpty) 0.0 else offX.toDouble
      offsetY = if (offY.isEmpty) 0.0 else offY.toDouble
    }
    if ((if (hasEllipsoidalHeight) 1 else 0) + (if (hasVertToVert) 1 else 0) +
        (if (hasGeogToVert) 1 else 0) > 1)
      throw Grids.BadGrid("unsupported mix of grid types")
    proj
  }
  private val mainIsGeog3D = hasGeographic3D
  private val mainType: String =
    if (hasGeographic3D) "GEOGRAPHIC_3D_OFFSET"
    else if (!hasHorizontal) {
      if (hasEllipsoidalHeight) "ELLIPSOIDAL_HEIGHT_OFFSET"
      else if (hasGeogToVert) "VERTICAL_OFFSET_GEOGRAPHIC_TO_VERTICAL"
      else "VERTICAL_OFFSET_VERTICAL_TO_VERTICAL"
    } else "HORIZONTAL_OFFSET"
  private val auxType: String =
    if (hasHorizontal) {
      if (hasEllipsoidalHeight) "ELLIPSOIDAL_HEIGHT_OFFSET"
      else if (hasGeogToVert) "VERTICAL_OFFSET_GEOGRAPHIC_TO_VERTICAL"
      else if (hasVertToVert) "VERTICAL_OFFSET_VERTICAL_TO_VERTICAL"
      else ""
    } else ""

  override def left: IOUnits.Value =
    if (isProjectedCoord) IOUnits.Projected else IOUnits.Radians
  override def right: IOUnits.Value = left

  // ---- per-grid channel info (getGridInfo part of grid_interpolate) --------
  private final case class Info(idxX: Int, idxY: Int, idxZ: Int,
                                eastingNorthing: Boolean, bilinear: Boolean)
  @transient private lazy val infoCache =
    new java.util.concurrent.ConcurrentHashMap[Grid, Info]()

  /** Sentinel for a grid whose channels fail validation: the reference's
    * grid_interpolate logs and fails only the POINT (HUGE_VAL,
    * gridshift.cpp:240-340) — an exception here would escape the
    * Boolean kernel contract and abort the whole query, re-validating on
    * every row since only successes were cached. */
  private val BadInfo = Info(-2, -2, -2, eastingNorthing = false, bilinear = true)

  private def infoOf(g: Grid, typ: String): Info = {
    val cached = infoCache.get(g)
    if (cached != null) return cached
    try infoOfImpl(g, typ)
    catch {
      case _: Grids.BadGrid =>
        infoCache.put(g, BadInfo)
        BadInfo
    }
  }

  private def infoOfImpl(g: Grid, typ: String): Info = {
    val projected = !g.extent.geographic
    def channel(description: String, unit: String): Int = {
      val i = g.channelOf(description)
      val u = if (i < 0) "" else g.item("UNITTYPE", i)
      if (u.nonEmpty && u != unit) throw Grids.BadGrid(s"only unit=$unit handled")
      i
    }
    var idxX = channel(if (projected) "easting_offset" else "longitude_offset",
      if (projected) "metre" else "arc-second")
    var idxY = channel(if (projected) "northing_offset" else "latitude_offset",
      if (projected) "metre" else "arc-second")
    var eastingNorthing = projected && (idxX >= 0 || idxY >= 0)
    val idxZ = Seq("ellipsoidal_height_offset", "geoid_undulation", "hydroid_height",
      "vertical_offset").map(channel(_, "metre")).max
    if (g.channels.length >= 2 && idxY < 0 && idxX < 0 &&
        typ == "HORIZONTAL_OFFSET") {
      if (projected) { eastingNorthing = true; idxX = 0; idxY = 1 }
      else { idxX = 1; idxY = 0 } // lat, lon order when metadata lacking
    }
    if ((typ == "HORIZONTAL_OFFSET" || typ == "GEOGRAPHIC_3D_OFFSET") &&
        (idxY < 0 || idxX < 0))
      throw Grids.BadGrid("gridshift: grid has not expected samples")
    if ((typ == "ELLIPSOIDAL_HEIGHT_OFFSET" ||
         typ == "VERTICAL_OFFSET_GEOGRAPHIC_TO_VERTICAL" ||
         typ == "VERTICAL_OFFSET_VERTICAL_TO_VERTICAL" ||
         typ == "GEOGRAPHIC_3D_OFFSET") && idxZ < 0)
      throw Grids.BadGrid("gridshift: grid has not expected samples")
    var interp = interpolationOverride
    if (interp.isEmpty) interp = g.item("interpolation_method")
    if (interp.isEmpty) interp = "bilinear"
    if (interp != "bilinear" && interp != "biquadratic")
      throw Grids.BadGrid("unsupported interpolation_method in grid")
    val info = Info(idxX, idxY, if (noZTransform) -1 else idxZ,
      eastingNorthing,
      bilinear = interp == "bilinear" || g.width < 3 || g.height < 3)
    infoCache.put(g, info)
    info
  }

  /** (shiftX, shiftY, shiftZ, biquadraticUsed) or null outside/nodata —
    * port of grid_interpolate (gridshift.cpp:240-580). */
  private def interpolate(typ: String, x: Double, y: Double,
                          g: Grid): Array[Double] = {
    val info = infoOf(g, typ)
    if (info eq BadInfo) return null // per-point failure, like the reference
    val ext = g.extent
    var tx = (x - ext.west) / ext.resX
    var ix = if (tx.isNaN) 0 else math.floor(tx).toInt
    var ty = (y - ext.south) / ext.resY
    var iy = if (ty.isNaN) 0 else math.floor(ty).toInt
    var fx = tx - ix
    var fy = ty - iy
    val edge = 10 * Grids.RelTol
    if (ix < 0) {
      if (ix == -1 && fx > 1 - edge) { ix += 1; fx = 0.0 } else return null
    } else if (ix + 1 >= g.width) {
      if (ix + 1 == g.width && fx < edge) { ix -= 1; fx = 1.0 } else return null
    }
    if (iy < 0) {
      if (iy == -1 && fy > 1 - edge) { iy += 1; fy = 0.0 } else return null
    } else if (iy + 1 >= g.height) {
      if (iy + 1 == g.height && fy < edge) { iy -= 1; fy = 1.0 } else return null
    }

    def sample(idx: Int, xx: Int, yy: Int): Float = g.channels(idx)(yy * g.width + xx)
    def anyNodata(idx: Int, x0: Int, y0: Int, n: Int): Boolean = {
      if (idx < 0) return false
      var j = 0
      while (j < n) {
        var i = 0
        while (i < n) {
          if (g.isNodata(sample(idx, x0 + i, y0 + j))) return true
          i += 1
        }
        j += 1
      }
      false
    }

    var sx = 0.0; var sy = 0.0; var sz = 0.0
    var biquadratic = !info.bilinear
    if (info.bilinear) {
      val m10 = fx * (1.0 - fy)
      val m11 = fx * fy
      val m01 = (1.0 - fx) * fy
      val m00 = (1.0 - fx) * (1.0 - fy)
      if (anyNodata(info.idxX, ix, iy, 2) || anyNodata(info.idxY, ix, iy, 2) ||
          anyNodata(info.idxZ, ix, iy, 2)) return null
      if (info.idxX >= 0 && info.idxY >= 0) {
        sx = m00 * sample(info.idxX, ix, iy) + m10 * sample(info.idxX, ix + 1, iy) +
          m01 * sample(info.idxX, ix, iy + 1) + m11 * sample(info.idxX, ix + 1, iy + 1)
        sy = m00 * sample(info.idxY, ix, iy) + m10 * sample(info.idxY, ix + 1, iy) +
          m01 * sample(info.idxY, ix, iy + 1) + m11 * sample(info.idxY, ix + 1, iy + 1)
      }
      if (info.idxZ >= 0)
        sz = m00 * sample(info.idxZ, ix, iy) + m10 * sample(info.idxZ, ix + 1, iy) +
          m01 * sample(info.idxZ, ix, iy + 1) + m11 * sample(info.idxZ, ix + 1, iy + 1)
    } else {
      // biquadratic: shift the 3x3 window by half-pixel rule, then NOAA
      // qterp quadratic interpolation along x then y
      if ((fx <= 0.5 && ix > 0) || (ix + 2 == g.width)) { ix -= 1; fx += 1 }
      if ((fy <= 0.5 && iy > 0) || (iy + 2 == g.height)) { iy -= 1; fy += 1 }
      if (anyNodata(info.idxX, ix, iy, 3) || anyNodata(info.idxY, ix, iy, 3) ||
          anyNodata(info.idxZ, ix, iy, 3)) return null
      def q(t: Double, f0: Double, f1: Double, f2: Double): Double = {
        val df0 = f1 - f0
        val df1 = f2 - f1
        val d2f0 = df1 - df0
        f0 + t * df0 + 0.5 * t * (t - 1.0) * d2f0
      }
      def interp2(idx: Int): Double = {
        val r0 = q(fx, sample(idx, ix, iy), sample(idx, ix + 1, iy), sample(idx, ix + 2, iy))
        val r1 = q(fx, sample(idx, ix, iy + 1), sample(idx, ix + 1, iy + 1), sample(idx, ix + 2, iy + 1))
        val r2 = q(fx, sample(idx, ix, iy + 2), sample(idx, ix + 1, iy + 2), sample(idx, ix + 2, iy + 2))
        q(fy, r0, r1, r2)
      }
      if (info.idxX >= 0 && info.idxY >= 0) {
        sx = interp2(info.idxX)
        sy = interp2(info.idxY)
      }
      if (info.idxZ >= 0) sz = interp2(info.idxZ)
    }

    if (info.idxX >= 0 && info.idxY >= 0 && !info.eastingNorthing) {
      val conv = 1.0 / 3600 / 180 * math.Pi
      sx *= conv
      sy *= conv
    }
    Array(sx, sy, sz, if (biquadratic) 1.0 else 0.0)
  }

  private def normalizeX(g: Grid, x: Double): Double = {
    val ext = g.extent
    if (!ext.geographic) x
    else {
      val eps = (ext.resX + ext.resY) * Grids.RelTol
      if (x < ext.west - eps) x + 2 * math.Pi
      else if (x > ext.east + eps) x - 2 * math.Pi
      else x
    }
  }

  /** port of grid_apply_internal (gridshift.cpp:605-725); returns
    * (x, y, z) or null. */
  private def applyInternal(typ: String, verticalOnly: Boolean,
                            inX: Double, inY: Double, inZ: Double,
                            forward: Boolean, g0: Grid): Array[Double] = {
    var grid = g0
    var normX = normalizeX(grid, inX)
    var shift = interpolate(typ, normX, inY, grid)
    if (shift == null) return null
    if (forward)
      return Array(inX + shift(0), inY + shift(1), inZ + shift(2))
    if (verticalOnly)
      return Array(inX, inY, inZ - shift(2))

    var gx = normX - shift(0)
    var gy = inY - shift(1)
    if (shift(3) == 0.0) { // bilinear: iterate (NCAT skips for biquadratic)
      var i = 10
      var continue = true
      while (continue) {
        val del = interpolate(typ, gx, gy, grid)
        if (del == null) {
          val ng = GridApply.find(gridSets, gx, gy, 0.0, _.gridType == typ)
          if (ng == null || (ng eq grid) || ng.isNull) {
            continue = false
          } else {
            grid = ng
            normX = normalizeX(grid, inX)
            gx = normX - shift(0)
            gy = inY - shift(1)
          }
        } else {
          shift = del
          val dx = gx + del(0) - normX
          val dy = gy + del(1) - inY
          gx -= dx
          gy -= dy
          i -= 1
          if (i == 0 || dx * dx + dy * dy <= 1e-24) continue = false
        }
      }
      if (i == 0) return null
    }
    Array(if (grid.extent.geographic) M.adjlon(gx) else gx, gy, inZ - shift(2))
  }

  /** port of gridshiftData::apply (gridshift.cpp:709-830). */
  private def applyAll(v: Array[Double], forward: Boolean): Boolean = {
    var x = v(0); var y = v(1); var z = v(2)
    if (!forward) { x -= offsetX; y -= offsetY }
    var typ = mainType
    var foundGeog3D = false
    var grid = GridApply.find(gridSets, x, y, 0.0, _.gridType == typ)
    if (grid == null && mainIsGeog3D && hasHorizontal) {
      typ = "HORIZONTAL_OFFSET"
      grid = GridApply.find(gridSets, x, y, 0.0, _.gridType == typ)
    } else if (grid != null && mainIsGeog3D) foundGeog3D = true
    if (grid == null) return false
    var out: Array[Double] = null
    if (grid.isNull) out = Array(x, y, z)
    else {
      out = applyInternal(typ, !(hasGeographic3D || hasHorizontal),
        x, y, z, forward, grid)
      if (out == null) return false
    }
    if (!foundGeog3D && auxType.nonEmpty) {
      val g2 = GridApply.find(gridSets, out(0), out(1), 0.0, _.gridType == auxType)
      if (g2 == null) return false
      if (!g2.isNull) {
        out = applyInternal(auxType, verticalOnly = true,
          out(0), out(1), out(2), forward, g2)
        if (out == null) return false
      }
    }
    v(0) = out(0); v(1) = out(1); v(2) = out(2)
    if (forward) { v(0) += offsetX; v(1) += offsetY }
    true
  }

  def fwd(v: Array[Double]): Boolean = applyAll(v, forward = true)
  def inv(v: Array[Double]): Boolean = applyAll(v, forward = false)
}
