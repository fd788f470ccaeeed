package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.GridFixtures._
import graft.geo.kernels.PointKernel
import graft.geo.proj.ProjString

/** The grid operations over synthesized NTv2 (two levels), CTable2 and GTX
  * files, each checked against the analytic field its nodes were written
  * from (see [[GridFixtures]]): no published grid is needed. */
class GridFormatsSpec extends AnyFunSuite {

  private def op(spec: String): PointKernel = ProjString.parse(spec)

  /** `k.fwd` on (lon, lat) degrees and height `z`; the result in degrees,
    * or None when the point fails. */
  private def fwd(k: PointKernel, lon: Double, lat: Double, z: Double = 0.0): Option[Array[Double]] = {
    val v = Array(math.toRadians(lon), math.toRadians(lat), z, 0.0)
    if (k.fwd(v)) Some(Array(math.toDegrees(v(0)), math.toDegrees(v(1)), v(2))) else None
  }

  /** Asserts `k` shifts (lon, lat) by `l`'s (longitude, latitude)
    * offsets, given in arc-seconds (or radians when `radians`), and that
    * its inverse returns the point. */
  private def assertShift(k: PointKernel, l: Level, lon: Double, lat: Double,
                          radians: Boolean = false): Unit = {
    val toArcSec = if (radians) math.toDegrees(1.0) * 3600 else 1.0
    val got = fwd(k, lon, lat).getOrElse(fail(s"fwd failed at ($lon, $lat)"))
    val dLon = (got(0) - lon) * 3600
    val dLat = (got(1) - lat) * 3600
    val wantLon = l.field("longitude_offset")(lon, lat) * toArcSec
    val wantLat = l.field("latitude_offset")(lon, lat) * toArcSec
    assert(math.abs(dLon - wantLon) < 1e-5 && math.abs(dLat - wantLat) < 1e-5,
      s"($lon, $lat): shift ($dLon, $dLat)\" vs ($wantLon, $wantLat)\"")
    val v = Array(math.toRadians(got(0)), math.toRadians(got(1)), 0.0, 0.0)
    assert(k.inv(v), s"inv failed at ($lon, $lat)")
    assert(math.abs(math.toDegrees(v(0)) - lon) < 1e-10 && math.abs(math.toDegrees(v(1)) - lat) < 1e-10,
      s"($lon, $lat): inv(fwd(p)) = (${math.toDegrees(v(0))}, ${math.toDegrees(v(1))})")
  }

  test("hgridshift on a two-level NTv2 follows the parent field; inv(fwd(p)) returns p") {
    val k = op(s"+proj=hgridshift +grids=${file(TwoLevelNtv2)}")
    for ((lon, lat) <- Seq((0.3, 40.7), (3.2, 43.1), (2.7, 40.2), (0.6, 43.9)))
      assertShift(k, Ntv2Parent, lon, lat)
    assert(fwd(k, 4.5, 42.0).isEmpty, "a point east of the grid was shifted")
  }

  test("hgridshift descends into the NTv2 child just inside its edge, and not just outside") {
    val k = op(s"+proj=hgridshift +grids=${file(TwoLevelNtv2)}")
    for ((lon, lat) <- Seq((1.001, 41.5), (1.5, 41.001), (1.999, 41.999), (1.37, 41.62)))
      assertShift(k, Ntv2Child, lon, lat)
    for ((lon, lat) <- Seq((0.999, 41.5), (1.5, 40.999), (2.001, 42.001)))
      assertShift(k, Ntv2Parent, lon, lat)
  }

  test("hgridshift on CTable2 undoes its west-positive longitudes") {
    val k = op(s"+proj=hgridshift +grids=${file(Ctable2ShiftFile)}")
    for ((lon, lat) <- Seq((5.2, 45.3), (7.9, 46.6), (6.25, 47.4)))
      assertShift(k, Ctable2Shift, lon, lat, radians = true)
  }

  test("vgridshift on GTX: bilinear, three renormalized corners around a -88.8888 node, null in an all-nodata cell") {
    val k = op(s"+proj=vgridshift +grids=${file(GeoidGtx)}")
    val g = Geoid.at
    def node(c: Int, r: Int): Double = Geoid.node("geoid_undulation", c, r).toFloat.toDouble
    // a cell with no nodata corner: the field itself
    for ((lon, lat) <- Seq((20.2, 31.3), (22.4, 30.2), (20.1, 31.9))) {
      val got = fwd(k, lon, lat, 10.0).getOrElse(fail(s"fwd failed at ($lon, $lat)"))
      val want = 10.0 - Geoid.field("geoid_undulation")(lon, lat)
      assert(math.abs(got(2) - want) < 1e-5, s"($lon, $lat): z ${got(2)} vs $want")
    }
    // cell (0..1, 0..1): node (1, 1) is nodata, the other three weigh in
    val (lon, lat) = (20.3, 30.2)
    val fx = (lon - g.west) / g.step
    val fy = (lat - g.south) / g.step
    val w = Seq((1 - fx) * (1 - fy), fx * (1 - fy), (1 - fx) * fy)
    val n = Seq(node(0, 0), node(1, 0), node(0, 1))
    val want = 10.0 - w.zip(n).map { case (a, b) => a * b }.sum / w.sum
    val got = fwd(k, lon, lat, 10.0).getOrElse(fail("fwd failed next to one nodata node"))
    assert(math.abs(got(2) - want) < 1e-5, s"z ${got(2)} vs $want")
    assert(math.abs(got(2) - (10.0 - Geoid.field("geoid_undulation")(lon, lat))) > 1e-3,
      "the nodata node was not left out")
    // cell (3..4, 2..3) has no valid corner
    assert(fwd(k, g.lon(3) + 0.25, g.lat(2) + 0.25, 10.0).isEmpty, "an all-nodata cell gave a value")
  }

  test("+grids=null shifts by zero; @absent grids are skipped") {
    val absent = s"@graft_absent_${System.nanoTime()}"
    for (spec <- Seq("+proj=hgridshift +grids=null", "+proj=vgridshift +grids=null",
                     s"+proj=hgridshift +grids=$absent.gsb", s"+proj=vgridshift +grids=$absent.gtx")) {
      val got = fwd(op(spec), 100.0, -20.0, 5.0).getOrElse(fail(s"$spec failed"))
      assert(math.abs(got(0) - 100.0) < 1e-12 && math.abs(got(1) + 20.0) < 1e-12 && got(2) == 5.0, spec)
    }
    val chain = op(s"+proj=hgridshift +grids=$absent.gsb,${file(TwoLevelNtv2)},null")
    assertShift(chain, Ntv2Parent, 3.2, 43.1)
    val outside = fwd(chain, 100.0, -20.0).getOrElse(fail("the null grid did not catch the point"))
    assert(math.abs(outside(0) - 100.0) < 1e-12 && math.abs(outside(1) + 20.0) < 1e-12)
    val v = op(s"+proj=vgridshift +grids=$absent.gtx,${file(GeoidGtx)}")
    val got = fwd(v, 22.4, 30.2).getOrElse(fail("vgridshift failed past an absent grid"))
    assert(math.abs(got(2) + Geoid.field("geoid_undulation")(22.4, 30.2)) < 1e-5)
  }

  test("deformation +xy_grids=<CTable2> +z_grids=<GTX> reads the raw CTable2 convention") {
    val k = op(s"+proj=deformation +xy_grids=${file(VelocityCtable2)}" +
      s" +z_grids=${file(VelocityGtx)} +dt=10 +ellps=GRS80")
    for ((lon, lat) <- Seq((9.4, 49.3), (12.7, 52.1), (13.9, 50.5)))
      GridFormatsSpec.assertDeformation(k, lon, lat, 10.0)
  }
}

object GridFormatsSpec {
  import org.scalatest.Assertions._

  private lazy val cart = ProjString.parse("+proj=cart +ellps=GRS80")

  /** Geocentric (X, Y, Z) of (lon, lat) degrees at height `h` on GRS80. */
  def geocentric(lon: Double, lat: Double, h: Double): Array[Double] = {
    val v = Array(math.toRadians(lon), math.toRadians(lat), h, 0.0)
    assert(cart.fwd(v))
    v
  }

  /** Asserts that `k` moves the GRS80 point (lon, lat, 100 m) by `dt`
    * years of the [[GridFixtures.Velocity]] field rotated from east,
    * north, up to geocentric axes, and that its inverse returns it to
    * 0.1 mm (the reverse shift iterates on the horizontal only). */
  def assertDeformation(k: PointKernel, lon: Double, lat: Double, dt: Double): Unit = {
    val p = geocentric(lon, lat, 100.0)
    val v = p.clone()
    assert(k.fwd(v), s"fwd failed at ($lon, $lat)")
    def vel(d: String): Double = Velocity.field(d)(lon, lat) / 1000.0
    val (e, n, u) = (vel("east_velocity"), vel("north_velocity"), vel("up_velocity"))
    val (sp, cp) = (math.sin(math.toRadians(lat)), math.cos(math.toRadians(lat)))
    val (sl, cl) = (math.sin(math.toRadians(lon)), math.cos(math.toRadians(lon)))
    val want = Seq(-sp * cl * n - sl * e + cp * cl * u, -sp * sl * n + cl * e + cp * sl * u,
      cp * n + sp * u).map(_ * dt)
    for (i <- 0 until 3)
      assert(math.abs(v(i) - p(i) - want(i)) < 1e-7, s"($lon, $lat) axis $i: ${v(i) - p(i)} vs ${want(i)}")
    assert(k.inv(v), s"inv failed at ($lon, $lat)")
    for (i <- 0 until 3) assert(math.abs(v(i) - p(i)) < 1e-4, s"($lon, $lat) axis $i: inv(fwd(p))")
  }
}
