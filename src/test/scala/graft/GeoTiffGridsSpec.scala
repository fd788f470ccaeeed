package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.GridFixtures._
import graft.geo.grids.Grids
import graft.geo.kernels.PointKernel
import graft.geo.proj.ProjString

/** The GeoTIFF grid paths over synthesized files (see [[GridFixtures]]):
  * `gridshift` with a child IFD and a nodata node, `xyzgridshift` and
  * `deformation` over 3-channel grids, and one file read as an hgrid, a
  * vgrid and a generic grid. */
class GeoTiffGridsSpec extends AnyFunSuite {

  private def op(spec: String): PointKernel = ProjString.parse(spec)

  private def rad(lon: Double, lat: Double, z: Double = 0.0): Array[Double] =
    Array(math.toRadians(lon), math.toRadians(lat), z, 0.0)

  /** Asserts `k` moves (lon, lat, 0) by `l`'s longitude and latitude
    * offsets (arc-seconds) and by `dz` metres, and, when `inverse`, that
    * its inverse returns the point. */
  private def assertOffset(k: PointKernel, l: Level, lon: Double, lat: Double,
                           dz: Double = 0.0, inverse: Boolean = true): Unit = {
    val v = rad(lon, lat)
    assert(k.fwd(v), s"fwd failed at ($lon, $lat)")
    val dLon = (math.toDegrees(v(0)) - lon) * 3600
    val dLat = (math.toDegrees(v(1)) - lat) * 3600
    val wantLon = l.field("longitude_offset")(lon, lat)
    val wantLat = l.field("latitude_offset")(lon, lat)
    assert(math.abs(dLon - wantLon) < 1e-5 && math.abs(dLat - wantLat) < 1e-5,
      s"($lon, $lat): shift ($dLon, $dLat)\" vs ($wantLon, $wantLat)\"")
    assert(math.abs(v(2) - dz) < 1e-5, s"($lon, $lat): dz ${v(2)} vs $dz")
    if (inverse) {
      assert(k.inv(v), s"inv failed at ($lon, $lat)")
      assert(math.abs(math.toDegrees(v(0)) - lon) < 1e-10 &&
        math.abs(math.toDegrees(v(1)) - lat) < 1e-10 && math.abs(v(2)) < 1e-5,
        s"($lon, $lat): inv(fwd(p)) = (${math.toDegrees(v(0))}, ${math.toDegrees(v(1))}, ${v(2)})")
    }
  }

  test("gridshift HORIZONTAL_OFFSET follows the parent IFD and descends into the child IFD") {
    val k = op(s"+proj=gridshift +grids=${file(HorizontalTif)}")
    for ((lon, lat) <- Seq((10.3, 60.2), (12.8, 60.9), (10.6, 61.7), (11.7, 61.8)))
      assertOffset(k, HorizontalTifParent, lon, lat)
    for ((lon, lat) <- Seq((11.2, 60.7), (11.001, 61.0), (11.999, 61.499), (11.6, 60.501)))
      assertOffset(k, HorizontalTifChild, lon, lat)
    for ((lon, lat) <- Seq((10.999, 61.0), (11.5, 60.499)))
      assertOffset(k, HorizontalTifParent, lon, lat)
  }

  test("gridshift fails a point whose cell holds a nodata node") {
    val k = op(s"+proj=gridshift +grids=${file(HorizontalTif)}")
    val (c, r) = HorizontalTifNodata
    val g = HorizontalTifParent.at
    assert(!k.fwd(rad(g.lon(c) + 0.1, g.lat(r) - 0.2)), "a cell with a nodata node gave a shift")
    assert(!k.fwd(rad(g.lon(c) - 0.1, g.lat(r) - 0.2)), "a cell with a nodata node gave a shift")
    assertOffset(k, HorizontalTifParent, g.lon(c) - 0.6, g.lat(r) - 0.2)
  }

  test("hgridshift reads the same two-IFD GeoTIFF as a parent and a child grid") {
    val k = op(s"+proj=hgridshift +grids=${file(HorizontalTif)}")
    assertOffset(k, HorizontalTifParent, 10.3, 60.2)
    assertOffset(k, HorizontalTifChild, 11.2, 60.7)
  }

  test("xyzgridshift adds the 3-channel translation at the geodetic position") {
    val k = op(s"+proj=xyzgridshift +grids=${file(TranslationTif)} +ellps=GRS80")
    for ((lon, lat) <- Seq((0.4, 44.3), (2.6, 46.1), (3.9, 45.5))) {
      val p = GridFormatsSpec.geocentric(lon, lat, 50.0)
      val v = p.clone()
      assert(k.fwd(v), s"fwd failed at ($lon, $lat)")
      for ((d, i) <- Seq("x_translation", "y_translation", "z_translation").zipWithIndex) {
        val want = Translation.field(d)(lon, lat)
        assert(math.abs(v(i) - p(i) - want) < 1e-5, s"($lon, $lat) $d: ${v(i) - p(i)} vs $want")
      }
      assert(k.inv(v), s"inv failed at ($lon, $lat)")
      for (i <- 0 until 3) assert(math.abs(v(i) - p(i)) < 1e-4, s"($lon, $lat) axis $i: inv(fwd(p))")
    }
  }

  test("deformation over a 3-channel velocity GeoTIFF equals the CTable2 + GTX pair") {
    val tif = op(s"+proj=deformation +grids=${file(VelocityTif)} +dt=10 +ellps=GRS80")
    val pair = op(s"+proj=deformation +xy_grids=${file(VelocityCtable2)}" +
      s" +z_grids=${file(VelocityGtx)} +dt=10 +ellps=GRS80")
    for ((lon, lat) <- Seq((9.4, 49.3), (12.7, 52.1), (13.9, 50.5))) {
      GridFormatsSpec.assertDeformation(tif, lon, lat, 10.0)
      val a = GridFormatsSpec.geocentric(lon, lat, 100.0)
      val b = a.clone()
      assert(tif.fwd(a) && pair.fwd(b))
      for (i <- 0 until 3) assert(math.abs(a(i) - b(i)) < 1e-9, s"($lon, $lat) axis $i")
    }
  }

  test("hgridSets, vgridSets and genericGridSets read one GeoTIFF without crossing caches") {
    val f = file(Offset3dTif)
    val v = op(s"+proj=vgridshift +grids=$f")
    val h = op(s"+proj=hgridshift +grids=$f")
    val g = op(s"+proj=gridshift +grids=$f")
    assert(Seq(Grids.hgridSets(f), Grids.vgridSets(f), Grids.genericGridSets(f)).forall(_.map(_.size) == List(1)))
    for ((lon, lat) <- Seq((-2.7, 35.4), (-1.1, 36.6), (-1.3, 36.9))) {
      val height = Offset3d.field("ellipsoidal_height_offset")(lon, lat)
      val z = rad(lon, lat, 10.0)
      assert(v.fwd(z) && math.abs(z(2) - (10.0 - height)) < 1e-5, s"vgridshift z ${z(2)} at ($lon, $lat)")
      assertOffset(h, Offset3d, lon, lat)
      assertOffset(g, Offset3d, lon, lat, dz = height, inverse = false)
    }
  }
}
