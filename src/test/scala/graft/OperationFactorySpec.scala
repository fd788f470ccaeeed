package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.geo.proj.{OperationFactory, ProjString}
import graft.geo.kernels.PointKernel

/** CRS→CRS operation-factory semantics (reference: createOperations,
  * iso19111/operation/coordinateoperationfactory.cpp:596-793, lowered to
  * planner candidates): datum decomposition, grid vs Helmert candidate
  * ranking, same-datum short-circuit, WKT / authority-code front ends. */
class OperationFactorySpec extends AnyFunSuite {

  private def fwdDeg(k: PointKernel, x: Double, y: Double): Array[Double] = {
    val v = Array(x, y, 0.0, 0.0)
    assert(k.fwd(v), s"fwd failed at ($x, $y)")
    v
  }

  /** Synthesized NTv2 grid over 4..7 x 52..55 (see [[GridFixtures]]). */
  private def synthGrid: String = GridFixtures.Hgrid.name

  private def close(a: Array[Double], b: Array[Double], tol: Double): Unit = {
    assert(math.abs(a(0) - b(0)) < tol, s"x: ${a(0)} vs ${b(0)}")
    assert(math.abs(a(1) - b(1)) < tol, s"y: ${a(1)} vs ${b(1)}")
  }

  test("towgs84 bridge equals the explicit cart/helmert pipeline (GGRS87)") {
    val k = OperationFactory.crsToCrs(
      "+proj=longlat +datum=GGRS87", "+proj=longlat +datum=WGS84")
    val ref = ProjString.parse(
      "+proj=pipeline" +
        " +step +proj=unitconvert +xy_in=deg +xy_out=rad" +
        " +step +proj=cart +ellps=GRS80" +
        " +step +proj=helmert +x=-199.87 +y=74.79 +z=246.62" +
        " +step +inv +proj=cart +ellps=WGS84" +
        " +step +proj=unitconvert +xy_in=rad +xy_out=deg")
    for ((lon, lat) <- Seq((21.0, 38.0), (25.5, 40.2), (-5.0, 60.0)))
      close(fwdDeg(k, lon, lat), fwdDeg(ref, lon, lat), 1e-10)
  }

  test("inverse direction round-trips through the factory kernel") {
    val k = OperationFactory.crsToCrs(
      "+proj=longlat +datum=GGRS87", "+proj=longlat +datum=WGS84")
    val v = fwdDeg(k, 22.3, 39.1)
    assert(k.inv(v))
    close(v, Array(22.3, 39.1), 1e-10)
  }

  test("same datum signature short-circuits to the exact conversion") {
    // NAD27's nadgrids don't ship in this sandbox, but a same-datum pair
    // must not need them: projection-only path (reference: same datum ->
    // conversion-only operation)
    val k = OperationFactory.crsToCrs(
      "+proj=utm +zone=15 +datum=NAD27", "+proj=longlat +datum=NAD27")
    val ref = ProjString.parse(
      "+proj=pipeline +step +inv +proj=utm +zone=15 +ellps=clrk66" +
        " +step +proj=unitconvert +xy_in=rad +xy_out=deg")
    close(fwdDeg(k, 500000.0, 4649776.22), fwdDeg(ref, 500000.0, 4649776.22), 1e-12)
  }

  test("grid candidate wins inside its extent, Helmert fallback outside") {
    val src = "+proj=longlat +ellps=GRS80" +
      s" +nadgrids=@$synthGrid +towgs84=100,0,0"
    val k = OperationFactory.crsToCrs(src, "+proj=longlat +datum=WGS84")
    val gridRef = ProjString.parse(
      "+proj=pipeline +step +proj=unitconvert +xy_in=deg +xy_out=rad" +
        s" +step +proj=hgridshift +grids=$synthGrid" +
        " +step +proj=unitconvert +xy_in=rad +xy_out=deg")
    val helmRef = ProjString.parse(
      "+proj=pipeline +step +proj=unitconvert +xy_in=deg +xy_out=rad" +
        " +step +proj=cart +ellps=GRS80 +step +proj=helmert +x=100" +
        " +step +inv +proj=cart +ellps=WGS84" +
        " +step +proj=unitconvert +xy_in=rad +xy_out=deg")
    // inside the test grid (4..7 x 52..55)
    close(fwdDeg(k, 5.5, 53.5), fwdDeg(gridRef, 5.5, 53.5), 1e-12)
    // outside: the grid-free Helmert bridge
    close(fwdDeg(k, 20.0, 20.0), fwdDeg(helmRef, 20.0, 20.0), 1e-12)
  }

  test("candidate list: extents, accuracies and ranking") {
    val cands = OperationFactory.createOperations(
      "+proj=longlat +ellps=GRS80" +
        s" +nadgrids=@$synthGrid,@null",
      "+proj=longlat +datum=WGS84")
    assert(cands.length == 2)
    val grid = cands.head // best accuracy first
    assert(!grid.gridFree)
    assert(math.abs(grid.westDeg - 4.0) < 1e-9 &&
      math.abs(grid.northDeg - 55.0) < 1e-9)
    assert(cands(1).gridFree) // @null fallback, world-wide
    assert(cands(1).westDeg == -180.0 && cands(1).eastDeg == 180.0)
    assert(grid.accuracy < cands(1).accuracy)
  }

  test("area of interest filters candidates like proj_create_crs_to_crs's PJ_AREA") {
    val src = "+proj=longlat +ellps=GRS80" +
      s" +nadgrids=@$synthGrid +towgs84=100,0,0"
    val dst = "+proj=longlat +datum=WGS84"
    // no area: grid candidate (extent 4..7 x 52..55) + Helmert fallback
    assert(OperationFactory.createOperations(src, dst).length == 2)
    // area inside the grid extent: both survive (partial intersection)
    assert(OperationFactory.createOperations(src, dst,
      Some((5.0, 53.0, 6.0, 54.0))).length == 2)
    // area disjoint from the grid extent: the grid candidate is excluded,
    // so even INSIDE the grid the kernel now applies the Helmert bridge —
    // the area pins the operation choice, reference crs_to_crs.cpp:557-560
    val away = Some((20.0, 10.0, 30.0, 20.0))
    assert(OperationFactory.createOperations(src, dst, away).length == 1)
    val kAway = OperationFactory.crsToCrs(src, dst, authorityOrder = false, away)
    val helmRef = ProjString.parse(
      "+proj=pipeline +step +proj=unitconvert +xy_in=deg +xy_out=rad" +
        " +step +proj=cart +ellps=GRS80 +step +proj=helmert +x=100" +
        " +step +inv +proj=cart +ellps=WGS84" +
        " +step +proj=unitconvert +xy_in=rad +xy_out=deg")
    close(fwdDeg(kAway, 5.5, 53.5), fwdDeg(helmRef, 5.5, 53.5), 1e-12)
    // grid-only CRS with the area disjoint from every candidate: rejected
    intercept[ProjString.Unsupported] {
      OperationFactory.crsToCrs(
        s"+proj=longlat +ellps=GRS80 +nadgrids=$synthGrid",
        dst, authorityOrder = false, away)
    }
    // malformed area
    intercept[IllegalArgumentException] {
      OperationFactory.createOperations(src, dst, Some((30.0, 10.0, 20.0, 20.0)))
    }
  }

  test("ACCURACY / ALLOW_BALLPARK / ONLY_BEST options match proj_create_crs_to_crs") {
    import OperationFactory.CrsToCrsOptions
    val src = "+proj=longlat +ellps=GRS80" +
      s" +nadgrids=@$synthGrid +towgs84=100,0,0"
    val dst = "+proj=longlat +datum=WGS84"
    // candidate accuracies: grid 0.15+0.005, 3-param towgs84 5.0+0.005
    assert(OperationFactory.createOperations(src, dst,
      CrsToCrsOptions(desiredAccuracy = 1.0)).length == 1)
    assert(OperationFactory.createOperations(src, dst,
      CrsToCrsOptions(desiredAccuracy = 10.0)).length == 2)
    intercept[ProjString.Unsupported] { // nothing is accurate to 1 mm
      OperationFactory.crsToCrs(src, dst, CrsToCrsOptions(desiredAccuracy = 0.001))
    }
    // no datum info -> the ballpark bridge is the only candidate;
    // ALLOW_BALLPARK=NO excludes it
    val bare = "+proj=longlat +ellps=bessel"
    assert(OperationFactory.createOperations(bare, dst,
      CrsToCrsOptions()).length == 1)
    intercept[ProjString.Unsupported] {
      OperationFactory.crsToCrs(bare, dst, CrsToCrsOptions(allowBallpark = false))
    }
    // ONLY_BEST=YES: a datum grid that did not resolve is an error, not a
    // silent fall-through to the next-best bridge
    val broken = "+proj=longlat +ellps=bessel +nadgrids=@no_such_grid.gsb,@null"
    assert(OperationFactory.createOperations(broken, dst,
      CrsToCrsOptions()).length == 1) // @null fallback without ONLY_BEST
    intercept[ProjString.Unsupported] {
      OperationFactory.createOperations(broken, dst, CrsToCrsOptions(onlyBest = true))
    }
    // ...but a same-datum pair short-circuits to the identity conversion
    // BEFORE the ONLY_BEST grid check: the best op is instantiable
    assert(OperationFactory.createOperations(broken, broken,
      CrsToCrsOptions(onlyBest = true)).length == 1)
  }

  test("a grid that does not resolve is excluded; grid-only CRS with no " +
    "surviving candidates is rejected") {
    val cands = OperationFactory.createOperations(
      "+proj=longlat +ellps=bessel +nadgrids=@no_such_grid.gsb,@null",
      "+proj=longlat +datum=WGS84")
    assert(cands.length == 1) // only @null survived
    intercept[ProjString.Unsupported] {
      OperationFactory.crsToCrs(
        "+proj=longlat +ellps=bessel +nadgrids=@no_such_grid.gsb",
        "+proj=longlat +datum=WGS84")
    }
  }

  test("datum=potsdam: BETA2007 NTv2 grid bridges DHDN inside Germany") {
    val k = OperationFactory.crsToCrs(
      "+proj=longlat +datum=potsdam", "+proj=longlat +datum=WGS84")
    val ref = ProjString.parse(
      "+proj=pipeline +step +proj=unitconvert +xy_in=deg +xy_out=rad" +
        " +step +proj=hgridshift +grids=BETA2007.gsb" +
        " +step +proj=unitconvert +xy_in=rad +xy_out=deg")
    close(fwdDeg(k, 10.0, 50.0), fwdDeg(ref, 10.0, 50.0), 1e-12)
  }

  test("authority codes: EPSG:32631 -> EPSG:4326 is the bare inverse UTM") {
    val k = OperationFactory.crsToCrs("EPSG:32631", "EPSG:4326")
    val ref = ProjString.parse(
      "+proj=pipeline +step +inv +proj=utm +zone=31 +ellps=WGS84" +
        " +step +proj=unitconvert +xy_in=rad +xy_out=deg")
    close(fwdDeg(k, 500000.0, 4649776.22), fwdDeg(ref, 500000.0, 4649776.22), 1e-12)
    // and projected->projected across datums with null bridges
    val k2 = OperationFactory.crsToCrs("EPSG:25832", "EPSG:32631")
    val ref2 = ProjString.parse(
      "+proj=pipeline +step +inv +proj=utm +zone=32 +ellps=GRS80" +
        " +step +proj=utm +zone=31 +ellps=WGS84")
    close(fwdDeg(k2, 500000.0, 5500000.0), fwdDeg(ref2, 500000.0, 5500000.0), 1e-6)
  }

  test("algorithmic EPSG UTM families resolve without table entries") {
    import graft.geo.proj.EpsgInit
    assert(EpsgInit.lookup("epsg:32748").contains("+proj=utm +zone=48 +south +datum=WGS84"))
    assert(EpsgInit.lookup("epsg:32601").contains("+proj=utm +zone=1 +datum=WGS84"))
    assert(EpsgInit.lookup("epsg:25835").exists(_.contains("+zone=35")))
    assert(EpsgInit.lookup("epsg:26910").exists(_.contains("+zone=10")))
    // UPS is NOT part of the arithmetic UTM family — it resolves from
    // its own table entry as polar stereographic
    assert(EpsgInit.lookup("epsg:32661").exists(_.contains("+proj=stere")))
    assert(EpsgInit.lookup("epsg:32700").isEmpty)
    // end-to-end through the factory: southern-hemisphere zone
    val k = OperationFactory.crsToCrs("EPSG:32748", "EPSG:4326")
    val ref = ProjString.parse(
      "+proj=pipeline +step +inv +proj=utm +zone=48 +south +ellps=WGS84" +
        " +step +proj=unitconvert +xy_in=rad +xy_out=deg")
    close(fwdDeg(k, 500000.0, 9000000.0), fwdDeg(ref, 500000.0, 9000000.0), 1e-12)
  }

  test("WKT1 with TOWGS84 stands anywhere a proj-string can") {
    val wkt =
      """PROJCS["ETRS89 / UTM zone 32N",
        |  GEOGCS["ETRS89",
        |    DATUM["European_Terrestrial_Reference_System_1989",
        |      SPHEROID["GRS 1980",6378137,298.257222101],
        |      TOWGS84[0,0,0,0,0,0,0]],
        |    PRIMEM["Greenwich",0],
        |    UNIT["degree",0.0174532925199433]],
        |  PROJECTION["Transverse_Mercator"],
        |  PARAMETER["latitude_of_origin",0],
        |  PARAMETER["central_meridian",9],
        |  PARAMETER["scale_factor",0.9996],
        |  PARAMETER["false_easting",500000],
        |  PARAMETER["false_northing",0],
        |  UNIT["metre",1]]""".stripMargin
    val k = OperationFactory.crsToCrs(wkt, "EPSG:4326")
    val ref = ProjString.parse(
      "+proj=pipeline +step +inv +proj=utm +zone=32 +ellps=GRS80" +
        " +step +proj=unitconvert +xy_in=rad +xy_out=deg")
    close(fwdDeg(k, 600000.0, 5700000.0), fwdDeg(ref, 600000.0, 5700000.0), 1e-9)
  }

  test("authorityOrder honors EPSG lat,lon for geographic codes") {
    // EPSG:4326 is lat,lon in authority order; GIS default is lon,lat
    val gis = OperationFactory.crsToCrs("EPSG:32631", "EPSG:4326")
    val auth = OperationFactory.crsToCrs("EPSG:32631", "EPSG:4326",
      authorityOrder = true)
    val g = fwdDeg(gis, 500000.0, 4649776.22)
    val a = fwdDeg(auth, 500000.0, 4649776.22)
    assert(math.abs(g(0) - a(1)) < 1e-12 && math.abs(g(1) - a(0)) < 1e-12)
    // projected source is easting,northing in both conventions
    val back = a.clone()
    assert(auth.inv(back))
    assert(math.abs(back(0) - 500000.0) < 1e-6)
  }

  test("factory agrees with the gie authority-code composer") {
    // the two CRS->CRS paths (the factory, and EpsgInit.crsToCrs used by
    // the gie crs_src/crs_dst runner) must agree numerically on pairs
    // both know.  Time-dependent bridges (ITRF2014<->GDA2020) are
    // composer-only by design and excluded.
    import graft.geo.proj.EpsgInit
    val pairs = Seq(
      ("EPSG:4326", "EPSG:32631", (3.7, 51.0)),
      ("EPSG:4258", "EPSG:25832", (9.3, 52.1)),
      ("EPSG:4123", "EPSG:2393", (27.1, 64.0)),
      ("EPSG:4258", "EPSG:32631", (3.7, 51.0)))
    for ((s, d, (lon, lat)) <- pairs) {
      val fac = OperationFactory.crsToCrs(s, d, authorityOrder = true)
      val comp = ProjString.parse(
        EpsgInit.crsToCrs(s.toLowerCase.replace("epsg", "epsg"), d.toLowerCase).get)
      // authority order: geographic sources are lat,lon
      val latFirst = EpsgInit.crsDefs(s.toLowerCase).latFirst
      val in = if (latFirst) Array(lat, lon, 0.0, 0.0) else Array(lon, lat, 0.0, 0.0)
      val a = in.clone(); val b = in.clone()
      assert(fac.fwd(a) && comp.fwd(b), s"$s -> $d failed")
      // 1 mm budget: for cross-ellipsoid null bridges the composer runs
      // cart(GRS80) -> noop -> inv cart(WGS84) while the factory applies
      // the EPSG-style geographic-level identity — they differ by the
      // ~0.1 mm GRS80/WGS84 flattening delta in latitude, not by datum
      // math
      assert(math.abs(a(0) - b(0)) < 1e-3 && math.abs(a(1) - b(1)) < 1e-3,
        s"$s -> $d: factory (${a(0)},${a(1)}) vs composer (${b(0)},${b(1)})")
    }
  }

  test("prime meridian stays in the core: NTF (Paris) -> WGS84") {
    val k = OperationFactory.crsToCrs("EPSG:4807", "EPSG:4326")
    // 0 deg (Paris) = 2.337229... deg E of Greenwich, then the NTF
    // 3-param shift; Helmert effect on longitude is small
    val out = fwdDeg(k, 0.0, 48.0)
    assert(math.abs(out(0) - 2.337229166666667) < 0.01)
    assert(math.abs(out(1) - 48.0) < 0.01)
    // exact: matches the explicit classic pipeline
    val ref = ProjString.parse(
      "+proj=pipeline +step +proj=unitconvert +xy_in=deg +xy_out=rad" +
        " +step +proj=longlat +a=6378249.2 +b=6356515 +pm=paris +inv" +
        " +step +proj=cart +a=6378249.2 +b=6356515" +
        " +step +proj=helmert +x=-168 +y=-60 +z=320" +
        " +step +inv +proj=cart +ellps=WGS84" +
        " +step +proj=unitconvert +xy_in=rad +xy_out=deg")
    close(out, fwdDeg(ref, 0.0, 48.0), 1e-10)
  }
}
