package graft.geo.grids

import java.nio.file.Files

import scala.collection.concurrent.TrieMap

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import graft.geo.kernels.{CartKernel, IOUnits, PointKernel}
import graft.geo.math.Ellipsoid

/** `proj=defmodel` — full deformation-model evaluation from a master
  * JSON file (reference: /root/reference/src/transformations/defmodel.cpp
  * + defmodel_impl.hpp): a set of components, each with a spatial extent,
  * a displacement grid (a GeoTIFF read as a generic [[Grid]]) and a time function;
  * displacements accumulate per epoch and apply in degree or
  * easting/northing units, by plain addition or through geocentric
  * space. */
object DefModel {
  /** A model file that is present but malformed. */
  final case class BadModel(msg: String)
      extends graft.geo.proj.ProjString.BadProjString(msg)

  sealed trait TimeFn extends Serializable { def at(t: Double): Double }
  final case class ConstantFn() extends TimeFn { def at(t: Double) = 1.0 }
  final case class VelocityFn(ref: Double) extends TimeFn {
    def at(t: Double): Double = t - ref
  }
  final case class StepFn(epoch: Double) extends TimeFn {
    def at(t: Double): Double = if (t < epoch) 0.0 else 1.0
  }
  final case class ReverseStepFn(epoch: Double) extends TimeFn {
    def at(t: Double): Double = if (t < epoch) -1.0 else 0.0
  }
  final case class PiecewiseFn(beforeFirst: String, afterLast: String,
                               epochs: Array[Double],
                               factors: Array[Double]) extends TimeFn {
    def at(t: Double): Double = {
      if (epochs.isEmpty) return 0.0
      val n = epochs.length
      if (t < epochs(0)) {
        if (beforeFirst == "zero") return 0.0
        if (beforeFirst == "constant" || n == 1) return factors(0)
        if (epochs(0) == epochs(1)) return factors(0)
        return (factors(0) * (epochs(1) - t) + factors(1) * (t - epochs(0))) /
          (epochs(1) - epochs(0))
      }
      var i = 1
      while (i < n) {
        if (t < epochs(i))
          return (factors(i - 1) * (epochs(i) - t) + factors(i) * (t - epochs(i - 1))) /
            (epochs(i) - epochs(i - 1))
        i += 1
      }
      if (afterLast == "zero") return 0.0
      if (afterLast == "constant" || n == 1) return factors(n - 1)
      if (epochs(n - 2) == epochs(n - 1)) return factors(n - 1)
      (factors(n - 2) * (epochs(n - 1) - t) + factors(n - 1) * (t - epochs(n - 2))) /
        (epochs(n - 1) - epochs(n - 2))
    }
  }
  final case class ExponentialFn(ref: Double, end: Double, relax: Double,
                                 before: Double, initial: Double,
                                 fin: Double) extends TimeFn {
    def at(t0: Double): Double = {
      if (t0 < ref) return before
      val t = if (!end.isNaN) math.min(t0, end) else t0
      initial + (fin - initial) * (1.0 - math.exp(-(t - ref) / relax))
    }
  }

  final case class Component(bbox: Array[Double], // normalized units
                             displacement: String, // horizontal/vertical/3d/none
                             gridFile: String,
                             geocentricBilinear: Boolean,
                             timeFn: TimeFn) extends Serializable {
    @transient lazy val grids: List[List[Grid]] =
      Grids.genericGridSets(gridFile)
  }

  final case class Model(isGeographic: Boolean,
                         horizontalUnitDegree: Boolean,
                         isAddition: Boolean,
                         bbox: Array[Double],
                         tFirst: Double, tLast: Double,
                         components: List[Component]) extends Serializable

  /** reference: ISO8601ToDecimalYear (defmodel_impl.hpp:228-254) */
  def decimalYear(dt: String): Double = {
    val re = "(\\d{4})-(\\d{2})-(\\d{2})T(\\d{2}):(\\d{2}):(\\d{2})Z".r
    dt match {
      case re(y, mo, d, h, mi, s) =>
        val year = y.toInt; val month = mo.toInt; val day = d.toInt
        val leap = (year % 4 == 0 && year % 100 != 0) || year % 400 == 0
        val mt = if (leap) Array(31, 29, 31, 30, 31, 30, 31, 31, 30, 31, 30, 31)
                 else Array(31, 28, 31, 30, 31, 30, 31, 31, 30, 31, 30, 31)
        if (month < 1 || month > 12 || day < 1 || day > mt(month - 1))
          throw BadModel(s"invalid date-time $dt")
        var dayInYear = day - 1
        var m = 1
        while (m < month) { dayInYear += mt(m - 1); m += 1 }
        year + (dayInYear * 86400.0 + h.toInt * 3600 + mi.toInt * 60 + s.toInt) /
          (if (leap) 86400.0 * 366 else 86400.0 * 365)
      case _ => throw BadModel(s"invalid date-time $dt")
    }
  }

  private val cache = TrieMap.empty[String, Model]

  def load(name: String): Model = {
    val p = Grids.locate(name)
    cache.getOrElseUpdate(p.toString,
      parse(new String(Files.readAllBytes(p), "UTF-8")))
  }

  def parse(text: String): Model = {
    val root =
      try new ObjectMapper().readTree(text)
      catch { case e: Exception => throw BadModel(s"not JSON: ${e.getMessage}") }
    if (root == null || !root.isObject) throw BadModel("not a JSON object")
    def str(n: JsonNode, k: String, req: Boolean = true): String = {
      val v = n.get(k)
      if (v == null || !v.isTextual) {
        if (req) throw BadModel(s"missing \"$k\"") else ""
      } else v.asText()
    }
    if (str(root, "file_type") != "deformation_model_master_file")
      throw BadModel("not a deformation model master file")
    val defCrs = str(root, "definition_crs")
    val hUnit = str(root, "horizontal_offset_unit", req = false)
    val hMethod = str(root, "horizontal_offset_method", req = false)

    def bboxOf(n: JsonNode): Array[Double] = {
      val e = n.get("extent")
      if (e == null || str(e, "type") != "bbox") throw BadModel("missing bbox extent")
      val b = e.get("parameters").get("bbox")
      if (b == null || !b.isArray || b.size() != 4) throw BadModel("bad bbox")
      Array.tabulate(4)(i => b.get(i).asDouble())
    }
    val bbox = bboxOf(root)
    // geographic-CRS heuristic (the reference asks the CRS database; we
    // classify by the definition CRS's plausible angular extent)
    val isGeo = defCrs == "EPSG:4326" || defCrs == "EPSG:4979" ||
      (math.abs(bbox(0)) <= 540 && math.abs(bbox(2)) <= 540 &&
        math.abs(bbox(1)) <= 90.01 && math.abs(bbox(3)) <= 90.01)
    val te = root.get("time_extent")
    if (te == null) throw BadModel("missing time_extent")
    val tFirst = decimalYear(str(te, "first"))
    val tLast = decimalYear(str(te, "last"))

    val horizontalUnitDegree = hUnit == "degree"
    val isAddition = hMethod != "geocentric"
    if (!isGeo && horizontalUnitDegree)
      throw BadModel("projected definition_crs with degree unit")
    if (!isGeo && !isAddition)
      throw BadModel("projected definition_crs with geocentric method")

    def normBox(b: Array[Double]): Array[Double] =
      if (isGeo) b.map(math.toRadians) else b

    val comps = root.get("components")
    if (comps == null || !comps.isArray) throw BadModel("missing components")
    val components = scala.collection.mutable.ListBuffer.empty[Component]
    comps.forEach { c =>
      val sm = c.get("spatial_model")
      if (sm == null) throw BadModel("missing spatial_model")
      val interp = str(sm, "interpolation_method", req = false)
      if (interp.nonEmpty && interp != "bilinear" && interp != "geocentric_bilinear")
        throw BadModel(s"unsupported interpolation_method $interp")
      if (!isGeo && interp == "geocentric_bilinear")
        throw BadModel("projected definition_crs with geocentric_bilinear")
      val tf = c.get("time_function")
      if (tf == null) throw BadModel("missing time_function")
      val params = tf.get("parameters")
      def pstr(k: String): String =
        if (params == null) "" else str(params, k, req = false)
      val fn: TimeFn = str(tf, "type") match {
        case "constant" => ConstantFn()
        case "velocity" => VelocityFn(decimalYear(pstr("reference_epoch")))
        case "step"     => StepFn(decimalYear(pstr("step_epoch")))
        case "reverse_step" => ReverseStepFn(decimalYear(pstr("step_epoch")))
        case "piecewise" =>
          val model = params.get("model")
          val eps = scala.collection.mutable.ArrayBuffer.empty[Double]
          val fs = scala.collection.mutable.ArrayBuffer.empty[Double]
          if (model != null) model.forEach { m =>
            eps += decimalYear(str(m, "epoch"))
            fs += m.get("scale_factor").asDouble()
          }
          PiecewiseFn(pstr("before_first"), pstr("after_last"),
            eps.toArray, fs.toArray)
        case "exponential" =>
          val endS = pstr("end_epoch")
          ExponentialFn(decimalYear(pstr("reference_epoch")),
            if (endS.isEmpty) Double.NaN else decimalYear(endS),
            params.get("relaxation_constant").asDouble(),
            if (params.has("before_scale_factor"))
              params.get("before_scale_factor").asDouble() else 0.0,
            if (params.has("initial_scale_factor"))
              params.get("initial_scale_factor").asDouble() else 0.0,
            if (params.has("final_scale_factor"))
              params.get("final_scale_factor").asDouble() else 1.0)
        case o => throw BadModel(s"unsupported time_function $o")
      }
      components += Component(normBox(bboxOf(c)),
        str(c, "displacement_type"), str(sm, "filename"),
        geocentricBilinear = interp == "geocentric_bilinear", fn)
    }
    Model(isGeo, horizontalUnitDegree, isAddition, normBox(bbox),
      tFirst, tLast, components.toList)
  }
}

final case class DefModelKernel(model: DefModel.Model, ell: Ellipsoid)
    extends PointKernel {
  import DefModel._

  override def left: IOUnits.Value =
    if (model.isGeographic) IOUnits.Radians else IOUnits.Projected
  override def right: IOUnits.Value = left

  private val cart = CartKernel(ell)
  private val es = ell.es
  private val a = ell.a
  private val b = ell.b

  /** reference: bboxCheck (defmodel_impl.hpp:793-829) — clamps into the
    * box within an extra margin during inverse iteration. Returns the
    * possibly-clamped (x, y) or null. */
  private def bboxCheck(x0: Double, y0: Double, forInverse: Boolean,
                        bb: Array[Double], eps: Double,
                        margin: Double): Array[Double] = {
    var x = x0; var y = y0
    if (x < bb(0) - eps || x > bb(2) + eps || y < bb(1) - eps || y > bb(3) + eps) {
      if (!forInverse) return null
      var xOk = false
      if (x >= bb(0) - eps && x <= bb(2) + eps) xOk = true
      else if (x > bb(0) - margin && x < bb(0)) { x = bb(0); xOk = true }
      else if (x < bb(2) + margin && x > bb(2)) { x = bb(2); xOk = true }
      var yOk = false
      if (y >= bb(1) - eps && y <= bb(3) + eps) yOk = true
      else if (y > bb(1) - margin && y < bb(1)) { y = bb(1); yOk = true }
      else if (y < bb(3) + margin && y > bb(3)) { y = bb(3); yOk = true }
      if (!(xOk && yOk)) return null
    }
    Array(x, y)
  }

  /** channel indices for a grid: (x, y, z) per the east/north/vertical
    * _offset descriptions with positional defaults.  Null when the grid
    * does not validate for the component's mode (reference
    * checkHorizontal/checkVertical, defmodel.cpp:65-106: too few
    * samples, descriptions present but not the expected ones, or a unit
    * other than the mode's) — the caller fails the POINT, like the
    * reference, instead of indexing garbage channels. */
  private def channels(g: Grid, displacement: String): (Int, Int, Int) = {
    val n = g.channels.length
    val anyDesc = (0 until n).exists(g.item("DESCRIPTION", _).nonEmpty)
    val (ix, iy, iz) =
      (g.channelOf("east_offset"), g.channelOf("north_offset"), g.channelOf("vertical_offset"))
    val (foundX, foundY, foundZ) = (ix >= 0, iy >= 0, iz >= 0)
    val sx = if (foundX) ix else 0
    val sy = if (foundY) iy else 1
    val sz = if (foundZ) iz else if (n == 1) 0 else 2
    val needsH = displacement == "horizontal" || displacement == "3d"
    val needsZ = displacement == "vertical" || displacement == "3d"
    if (needsH) {
      if (n < 2) return null
      if (anyDesc && (!foundX || !foundY)) return null
      val unit = g.item("UNITTYPE", sx)
      val expected = if (model.horizontalUnitDegree) "degree" else "metre"
      if (unit.nonEmpty && unit != expected) return null
    }
    if (needsZ) {
      if (displacement == "vertical" && anyDesc && !foundZ) return null
      if (sz >= n) return null
      val unit = g.item("UNITTYPE", sz)
      if (unit.nonEmpty && unit != "metre") return null
    }
    (sx, sy, sz)
  }

  /** port of Evaluator::forward (defmodel_impl.hpp:830-1185). */
  private def forward(x0: Double, y0: Double, z0: Double, t: Double,
                      forInverse: Boolean): Array[Double] = {
    val eps = if (model.isGeographic) 1e-10 else 1e-5
    var x = x0; var y = y0
    if (model.isGeographic) {
      while (x < model.bbox(0) - eps) x += 2 * math.Pi
      while (x > model.bbox(2) + eps) x -= 2 * math.Pi
    }
    val margin0 = if (model.isGeographic) math.toRadians(0.1) else 10000.0
    val cl = bboxCheck(x, y, forInverse, model.bbox, eps, margin0)
    if (cl == null) return null
    x = cl(0); y = cl(1)
    if (t < model.tFirst || t > model.tLast) return null

    var dlam = 0.0; var dphi = 0.0
    var de = 0.0; var dn = 0.0; var dz = 0.0
    var sinphi = 0.0; var cosphi = 0.0
    var sincosInit = false

    for (comp <- model.components if comp.displacement != "none") {
      val cc = bboxCheck(x, y, forInverse, comp.bbox, eps, 0.0)
      if (cc != null) {
        var xg = math.min(math.max(cc(0), comp.bbox(0)), comp.bbox(2))
        var yg = math.min(math.max(cc(1), comp.bbox(1)), comp.bbox(3))
        val tf = comp.timeFn.at(t)
        if (tf != 0.0) {
          val grid = GridApply.find(comp.grids, xg, yg, 0.0, GridApply.AnyGrid)
          if (grid != null && !grid.isNull) {
            if (grid.width < 2 || grid.height < 2) return null
            val ext = grid.extent
            val ixd = (xg - ext.west) / ext.resX
            val iyd = (yg - ext.south) / ext.resY
            if (!(ixd < -eps || iyd < -eps || ixd + 1 >= grid.width + eps ||
                  iyd + 1 >= grid.height + eps)) {
              val ix0 = math.min(ixd.toInt, grid.width - 2)
              val iy0 = math.min(iyd.toInt, grid.height - 2)
              val fx = ixd - ix0
              val fy = iyd - iy0
              val m00 = (1 - fx) * (1 - fy)
              val m10 = fx * (1 - fy)
              val m01 = (1 - fx) * fy
              val m11 = fx * fy
              val ch = channels(grid, comp.displacement)
              if (ch == null) return null
              val (sx, sy, sz) = ch
              def sv(idx: Int, xx: Int, yy: Int): Double =
                grid.channels(idx)(yy * grid.width + xx)
              def bil(idx: Int): Double =
                sv(idx, ix0, iy0) * m00 + sv(idx, ix0, iy0 + 1) * m01 +
                  sv(idx, ix0 + 1, iy0) * m10 + sv(idx, ix0 + 1, iy0 + 1) * m11
              if (comp.displacement == "vertical") {
                dz += tf * bil(sz)
              } else if (model.horizontalUnitDegree) {
                // grid stores degrees -> radians
                val d2r = math.Pi / 180.0
                dlam += tf * bil(sx) * d2r
                dphi += tf * bil(sy) * d2r
                if (comp.displacement == "3d") dz += tf * bil(sz)
              } else {
                if (comp.displacement == "3d") dz += tf * bil(sz)
                if (!comp.geocentricBilinear) {
                  de += tf * bil(sx)
                  dn += tf * bil(sy)
                } else {
                  // geocentric bilinear: corner EN vectors rotated to XYZ
                  // about the cell, interpolated, rotated back (defmodel_
                  // impl.hpp:100-170)
                  val y0g = ext.south + iy0 * ext.resY
                  val sp0 = math.sin(y0g); val cp0 = math.cos(y0g)
                  val sp1 = math.sin(y0g + ext.resY)
                  val cp1 = math.cos(y0g + ext.resY)
                  val shx = math.sin(ext.resX / 2)
                  val chx = math.cos(ext.resX / 2)
                  def corner(e: Double, n: Double, sl: Double, clm: Double,
                             sp: Double, cp: Double): (Double, Double, Double) = {
                    val nsp = n * sp
                    (-e * sl - nsp * clm, e * clm - nsp * sl, n * cp)
                  }
                  val c00 = corner(sv(sx, ix0, iy0), sv(sy, ix0, iy0), -shx, chx, sp0, cp0)
                  val c01 = corner(sv(sx, ix0, iy0 + 1), sv(sy, ix0, iy0 + 1), -shx, chx, sp1, cp1)
                  val c10 = corner(sv(sx, ix0 + 1, iy0), sv(sy, ix0 + 1, iy0), shx, chx, sp0, cp0)
                  val c11 = corner(sv(sx, ix0 + 1, iy0 + 1), sv(sy, ix0 + 1, iy0 + 1), shx, chx, sp1, cp1)
                  val dX = m00 * c00._1 + m01 * c01._1 + m10 * c10._1 + m11 * c11._1
                  val dY = m00 * c00._2 + m01 * c01._2 + m10 * c10._2 + m11 * c11._2
                  val dZg = m00 * c00._3 + m01 * c01._3 + m10 * c10._3 + m11 * c11._3
                  if (!sincosInit) {
                    sincosInit = true; sinphi = math.sin(y); cosphi = math.cos(y)
                  }
                  val lamRel = (fx - 0.5) * ext.resX
                  val sl = math.sin(lamRel)
                  val clm = math.cos(lamRel)
                  de += tf * (-dX * sl + dY * clm)
                  dn += tf * ((-dX * clm - dY * sl) * sinphi + dZg * cosphi)
                }
              }
            }
          }
        }
      }
    }

    var xOut = x0; var yOut = y0
    if (model.horizontalUnitDegree) {
      xOut += dlam
      yOut += dphi
    } else if (model.isAddition && !model.isGeographic) {
      xOut += de
      yOut += dn
    } else if (model.isAddition) {
      if (!sincosInit) cosphi = math.cos(y)
      // DeltaEastingNorthingToLongLat (defmodel_impl.hpp:715-727)
      val oneMinuX = es * (1 - cosphi * cosphi)
      val bigX = 1 - oneMinuX
      val sqrtX = math.sqrt(bigX)
      xOut += de * sqrtX / (a * cosphi)
      yOut += dn * a * sqrtX * bigX / (b * b)
    } else {
      // geocentric application
      if (!sincosInit) { sinphi = math.sin(y); cosphi = math.cos(y) }
      val sl = math.sin(x)
      val clm = math.cos(x)
      val dnsp = dn * sinphi
      val dX = -de * sl - dnsp * clm
      val dY = de * clm - dnsp * sl
      val dZ = dn * cosphi
      val g = Array(x, y, 0.0, 0.0)
      cart.fwd(g)
      g(0) += dX; g(1) += dY; g(2) += dZ
      if (!cart.inv(g)) return null
      xOut = g(0); yOut = g(1)
    }
    Array(xOut, yOut, z0 + dz)
  }

  def fwd(v: Array[Double]): Boolean = {
    val t = v(3)
    if (t.isNaN || t.isInfinite) return false
    val r = forward(v(0), v(1), v(2), t, forInverse = false)
    if (r == null) return false
    v(0) = r(0); v(1) = r(1); v(2) = r(2)
    true
  }

  /** reference: Evaluator::inverse (defmodel_impl.hpp:1230-1270). */
  def inv(v: Array[Double]): Boolean = {
    val t = v(3)
    if (t.isNaN || t.isInfinite) return false
    var x = v(0); var y = v(1); var z = v(2)
    var i = 0
    while (i < 10) {
      val r = forward(x, y, z, t, forInverse = true)
      if (r == null) return false
      val dx = r(0) - v(0)
      val dy = r(1) - v(1)
      val dz = r(2) - v(2)
      x -= dx; y -= dy; z -= dz
      if (math.max(math.abs(dx), math.abs(dy)) < 1e-12 && math.abs(dz) < 1e-3) {
        v(0) = x; v(1) = y; v(2) = z
        return true
      }
      i += 1
    }
    false
  }
}
