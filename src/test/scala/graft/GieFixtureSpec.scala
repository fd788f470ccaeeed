package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.geo.gie.Gie

/** Runs PROJ's own gie regression fixtures (read-only golden data at
  * /root/reference/test/gie) against our kernels via the proj-string
  * front-end.  Operations outside the engine's inventory are skipped;
  * the lower-bound assertions keep the skip mechanism honest. */
class GieFixtureSpec extends AnyFunSuite {
  private def gie(file: String) = ReferenceTree.file(s"test/gie/$file").toString

  private def check(file: String, minChecks: Int,
                    mustCover: Seq[String] = Nil): Gie.Stats = {
    val st = Gie.runFile(gie(file))
    info(st.summary)
    info("checks by proj: " + st.checksByProj.toSeq.sortBy(-_._2).mkString(", "))
    st.failures.take(10).foreach(f =>
      info(s"FAIL ${f.file}:${f.line} [${f.op}] ${f.msg}"))
    assert(st.failures.isEmpty,
      s"${st.failures.size} gie failures in $file (first: ${st.failures.headOption})")
    assert(st.checks >= minChecks, s"only ${st.checks} checks ran in $file")
    mustCover.foreach(p => assert(st.checksByProj.getOrElse(p, 0) > 0,
      s"no checks exercised proj=$p in $file"))
    st
  }

  test("builtins.gie: tmerc/utm/lcc/merc/eqc/stere/aea/laea/aeqd sections pass") {
    check("builtins.gie", minChecks = 400,
      mustCover = Seq("tmerc", "etmerc", "utm", "lcc", "merc", "eqc",
        "stere", "ups", "aea", "leac", "laea", "aeqd",
        "s2", "cea", "gnom", "moll", "sinu", "eqdc", "bonne",
        "ortho", "cass", "sterea", "topocentric", "omerc", "krovak",
        "urm5", "lagrng", "airy", "ob_tran", "nsper", "ocea", "tpeqd", "vandg", "healpix", "geos", "geocent",
        "euler", "murd1", "murd2", "murd3", "pconic", "tissot", "vitk1",
        "fouc", "kav5", "qua_aut", "mbt_s", "hammer", "tobmerc", "somerc", "poly", "qsc", "rhealpix", "calcofi", "mod_krovak",
        "som", "lsat", "misrsom",
        "eck1", "eck4", "wag2", "wag7", "mill", "gall", "robin", "times",
        "natearth", "patterson", "putp2", "mbtfpq", "goode", "igh", "igh_o",
        "imoll", "imoll_o", "aitoff", "wintri", "oea", "hatano",
        "mil_os", "lee_os", "gs48", "alsk", "gs50", "bipc", "imw_p",
        "lcca", "rouss", "gstmerc", "labrd", "nzmg", "col_urban", "chamb",
        "fouc_s", "airocean", "isea"))
  }

  test("epsg_no_grid.gie: authority-code CRS->CRS pairs pass") {
    val st = check("epsg_no_grid.gie", minChecks = 5)
    assert(st.skippedOps == 0, s"crs pairs skipped: ${st.skippedOps}")
  }

  test("epsg_grid.gie: grid-backed CRS->CRS pairs (require_grid honored)") {
    // none of the four required grids (EGM2008, BD72, ICGC, RAF20) ship
    // with the reference test data — every block must skip via its
    // require_grid directive, exactly as the reference's gie does
    val st = Gie.runFile(gie("epsg_grid.gie"))
    info(st.summary)
    assert(st.failures.isEmpty, st.failures.take(5).mkString("; "))
  }

  test("4D-API_cs2cs-style.gie: webmerc EPSG Guidance Note 7-2 vectors pass") {
    check("4D-API_cs2cs-style.gie", minChecks = 2, mustCover = Seq("webmerc"))
  }

  test("ellipsoid.gie: ellipsoid parameter resolution passes") {
    check("ellipsoid.gie", minChecks = 2)
  }

  test("GDA.gie: GDA94->GDA2020 Helmert (7 + time-dependent 14) passes") {
    check("GDA.gie", minChecks = 3, mustCover = Seq("helmert"))
  }

  test("unitconvert time units convert through the modified Julian date") {
    import graft.geo.kernels.TimeUnits
    // GPS epoch 1980-01-06 == MJD 44244 in three unit systems
    assert(TimeUnits.toMjd(2, 0.0) == 44244.0)
    assert(TimeUnits.toMjd(3, 19800106.0) == 44244.0)
    assert(TimeUnits.fromMjd(3, 44244.0) == 19800106.0)
    // roundtrips
    assert(math.abs(TimeUnits.fromMjd(1, TimeUnits.toMjd(1, 2018.5)) - 2018.5) < 1e-9)
    assert(TimeUnits.fromMjd(3, TimeUnits.toMjd(3, 20200229.0)) == 20200229.0)
    assert(math.abs(TimeUnits.fromMjd(2, TimeUnits.toMjd(2, 2087.25)) - 2087.25) < 1e-9)
    // through the proj-string front-end on the t channel
    val k = graft.geo.proj.ProjString.parse("+proj=unitconvert +t_in=gps_week +t_out=decimalyear")
    val v = Array(0.0, 0.0, 0.0, 0.0)
    assert(k.fwd(v))
    assert(math.abs(v(3) - (1980.0 + 5.0 / 366.0)) < 1e-9, s"got ${v(3)}")
  }

  test("more_builtins.gie: helmert/molobadekas/affine/vertoffset pass") {
    check("more_builtins.gie", minChecks = 60,
      mustCover = Seq("helmert", "molobadekas", "affine", "vertoffset",
        "molodensky", "eqearth", "latlong", "bertin1953", "hgridshift"))
  }

  test("ccon: central conic vectors (builtins pipeline block) pass directly") {
    // the gie block wraps ccon in a pipeline (builtins.gie:949-975) so its
    // checks are tallied under "pipeline"; assert the kernel directly too
    import graft.geo.proj.ProjString
    val k = ProjString.parse(
      "+proj=ccon +lat_1=52 +lon_0=19 +x_0=330000 +y_0=-350000 +R=6390000")
    val v = Array(math.toRadians(24), math.toRadians(55), 0.0, 0.0)
    assert(k.fwd(v))
    assert(math.abs(v(0) - 650031.5410941322) < 1e-4 &&
      math.abs(-v(1) - 4106.161777064361) < 1e-4, v.mkString(","))
    val w = Array(330000.0, -350000.0, 0.0, 0.0)
    assert(k.inv(w))
    assert(math.abs(math.toDegrees(w(0)) - 19.0) < 1e-9 &&
      math.abs(math.toDegrees(w(1)) - 52.0) < 1e-9)
  }

  test("sch: cross-track height vectors from the reference CLI tests pass") {
    // vectors: /root/reference/test/cli/test_cs2cs_various.yaml:913-940
    import graft.geo.proj.ProjString
    val k = ProjString.parse("+proj=sch +ellps=WGS84 +plat_0=30.0 +plon_0=45.0 +phdg_0=-12.0")
    val cases = Seq(
      (0.0, 0.0, -1977112.0305592, 5551475.1418378, 6595.7256583),
      (0.0, 90.0, 6618337.9734775, -1152927.4060894, 10055.1157181),
      (45.0, 45.0, 1630035.5650122, -342353.6396475, 128.3445654),
      (45.1, 44.9, 1617547.4295637, -347855.9734973, 125.4645102),
      (44.9, 45.1, 1642526.7453121, -336878.8571851, 131.3265616),
      (30.0, 45.0, 1974596.2356203, 787409.8217445, 773.0028577))
    cases.foreach { case (lon, lat, ex, ey, ez) =>
      val v = Array(math.toRadians(lon), math.toRadians(lat), 0.0, 0.0)
      assert(k.fwd(v))
      assert(math.abs(v(0) - ex) < 1e-4 && math.abs(v(1) - ey) < 1e-4 &&
        math.abs(v(2) - ez) < 1e-4,
        s"sch($lon,$lat) got ${v.take(3).mkString(",")} want $ex,$ey,$ez")
    }
    // inverse vectors (same yaml, second block)
    val inv = Seq(
      (0.0, 0.0, 2.0, 45.000000, 30.000000, 2.000000),
      (0.0, 1000.0, 0.0, 44.989863, 29.998124, -0.000362),
      (1000.0, 0.0, 0.0, 44.997845, 30.008824, -0.000000),
      (1000.0, 1000.0, 0.0, 44.987707, 30.006948, -0.000523))
    inv.foreach { case (x, y, z, elon, elat, eh) =>
      val v = Array(x, y, z, 0.0)
      assert(k.inv(v))
      assert(math.abs(math.toDegrees(v(0)) - elon) < 1e-6 &&
        math.abs(math.toDegrees(v(1)) - elat) < 1e-6 &&
        math.abs(v(2) - eh) < 1e-3,
        s"sch inv($x,$y) got ${math.toDegrees(v(0))},${math.toDegrees(v(1))},${v(2)}")
    }
  }

  test("DHDN_ETRS89.gie: NTv2 grid shift (BETA2007) + towgs84 fallback pass") {
    // block 1 = datum=potsdam -> nadgrids=@BETA2007.gsb (hgridshift glue);
    // block 2 = deprecated 7-param towgs84 Helmert glue at 3 m
    check("DHDN_ETRS89.gie", minChecks = 60, mustCover = Seq("latlong"))
  }

  test("grid shifts: ntf_r93 + NTv2 endianness pair + GTX vertical pass") {
    import graft.geo.proj.ProjString
    // more_builtins hgridshift sections (ntf_r93.gsb, test_hgrid_*.gsb)
    // run as part of the file-level test; here exercise the kernels
    // directly against published vectors from the same fixtures.
    val h = ProjString.parse("+proj=hgridshift +grids=ntf_r93.gsb +ellps=GRS80")
    val v = Array(math.toRadians(2.250704350387), math.toRadians(46.500051597273), 0.0, 0.0)
    assert(h.fwd(v))
    assert(math.abs(math.toDegrees(v(0)) - 2.25) < 1e-8, s"lam=${math.toDegrees(v(0))}")
    assert(math.abs(math.toDegrees(v(1)) - 46.5) < 1e-8)
    // inverse recovers the input (1 mm ~ 1e-8 deg)
    assert(h.inv(v))
    assert(math.abs(math.toDegrees(v(0)) - 2.250704350387) < 1e-8)
    assert(math.abs(math.toDegrees(v(1)) - 46.500051597273) < 1e-8)

    // little/big-endian NTv2 pair must parse to identical grids
    val le = graft.geo.grids.Grids.hgridSets("tests/test_hgrid_little_endian.gsb").head.head
    val be = graft.geo.grids.Grids.hgridSets("tests/test_hgrid_big_endian.gsb").head.head
    assert(le.width == be.width && le.height == be.height)
    assert(le.channels(0).sameElements(be.channels(0)))
    assert(le.channels(1).sameElements(be.channels(1)))

    // GTX vertical: geoid undulation at (12.5E, 55.5N) ~ 36.39 m (the
    // downsampled egm96 grid ships with the reference tests)
    val g = ProjString.parse("+proj=vgridshift +grids=egm96_15_downsampled.gtx +ellps=GRS80")
    val w = Array(math.toRadians(12.5), math.toRadians(55.5), 0.0, 0.0)
    assert(g.fwd(w))
    assert(math.abs(w(2) - -36.39) < 0.3, s"z=${w(2)}")
    assert(g.inv(w))
    assert(math.abs(w(2)) < 1e-12)

    // null grid passes coordinates through unchanged (4D-API fixture)
    val n = ProjString.parse("proj=vgridshift grids=tests/test_nodata.gtx,null ellps=GRS80")
    val u = Array(math.toRadians(12.5), math.toRadians(55.5), 0.0, 0.0)
    assert(n.fwd(u))

    // NTv1 (ntv1_can.dat ships with the reference tests): NAD27 -> NAD83
    // around Ottawa shifts ~ -17 m lon / +4 m lat; inverse closes
    val n1 = ProjString.parse("+proj=hgridshift +grids=ntv1_can.dat +ellps=clrk66")
    val o = Array(math.toRadians(-75.7), math.toRadians(45.4), 0.0, 0.0)
    assert(n1.fwd(o))
    val dLon = math.toDegrees(o(0)) - -75.7
    val dLat = math.toDegrees(o(1)) - 45.4
    // NAD27->NAD83 around Ottawa: shifts of arc-second order, non-zero
    assert(math.abs(dLon) > 1e-6 && math.abs(dLon) < 2e-3 &&
      math.abs(dLat) > 1e-6 && math.abs(dLat) < 2e-3,
      s"NTv1 shift implausible: $dLon, $dLat")
    assert(n1.inv(o))
    assert(math.abs(math.toDegrees(o(0)) - -75.7) < 1e-9)
  }

  test("defmodel.gie: deformation-model master files pass") {
    check("defmodel.gie", minChecks = 10, mustCover = Seq("defmodel"))
  }

  test("deformation.gie: kinematic grid shifts pass") {
    check("deformation.gie", minChecks = 6, mustCover = Seq("pipeline"))
  }

  test("gridshift.gie: unified generic grid shift passes") {
    check("gridshift.gie", minChecks = 25, mustCover = Seq("gridshift"))
  }

  test("geotiff_grids.gie: GeoTIFF grid variants pass") {
    check("geotiff_grids.gie", minChecks = 40,
      mustCover = Seq("vgridshift", "hgridshift"))
  }

  test("tinshift.gie: triangulation shifts incl. fallback strategies pass") {
    check("tinshift.gie", minChecks = 8, mustCover = Seq("tinshift"))
  }

  test("tinshift_gpkg.gie: GeoPackage-backed triangulations pass") {
    // exercises the from-scratch SQLite page reader (SqliteFile) + the
    // gpkg_metadata/vertices/triangles_def decoding (TinShiftGpkg)
    check("tinshift_gpkg.gie", minChecks = 10, mustCover = Seq("tinshift"))
  }

  test("axisswap.gie passes") {
    check("axisswap.gie", minChecks = 20, mustCover = Seq("axisswap"))
  }

  test("unitconvert.gie: linear+angular conversions pass") {
    check("unitconvert.gie", minChecks = 10, mustCover = Seq("unitconvert"))
  }

  test("GIGS conformance series: every file passes in full") {
    // Geospatial Integrity of Geoscience Software suite — every file in
    // the reference tree's test/gigs runs with zero skipped operations.
    val dir2 = ReferenceTree.file("test/gigs").toFile
    var checks = 0
    var supported = 0
    val failures = scala.collection.mutable.ListBuffer.empty[String]
    dir2.listFiles().filter(_.getName.endsWith(".gie")).sortBy(_.getName)
      .foreach { f =>
        val st = Gie.runFile(f.getPath)
        checks += st.checks
        supported += st.supportedOps
        st.failures.foreach(x =>
          failures += s"${f.getName}:${x.line} ${x.msg.take(120)}")
      }
    info(s"GIGS: $supported supported ops, $checks checks, ${failures.size} failures")
    failures.take(5).foreach(info(_))
    assert(failures.isEmpty, s"${failures.size} GIGS failures")
    assert(checks >= 1150, s"only $checks GIGS checks ran")
  }

  test("helmert +towgs84= is the op's own parameter set, position_vector only") {
    import graft.geo.proj.ProjString
    // towgs84 on proj=helmert is consumed by the helmert setup, not the
    // cs2cs datum glue (helmert.cpp:587-605): the 3/7 values stand for
    // x,y,z[,rx,ry,rz,s] in the position_vector convention
    def run(ps: String, v: Array[Double]): Array[Double] = {
      val k = ProjString.parse(ps)
      val w = v.clone(); assert(k.fwd(w), s"fwd failed: $ps"); w
    }
    val pt = Array(3513638.0, 778956.0, 5248216.0, Double.NaN)
    val viaTowgs = run(
      "proj=helmert towgs84=1.5,-2.25,3.0,0.1,-0.2,0.3,4.5 convention=position_vector", pt)
    val viaParams = run(
      "proj=helmert x=1.5 y=-2.25 z=3.0 rx=0.1 ry=-0.2 rz=0.3 s=4.5 convention=position_vector", pt)
    assert(viaTowgs.take(3).sameElements(viaParams.take(3)),
      s"towgs84 form diverges: ${viaTowgs.toList} vs ${viaParams.toList}")
    // towgs84 values override explicit x/y/z (the copy lands after the
    // parameter read); an explicit +s= still wins (read after the copy)
    val overridden = run(
      "proj=helmert x=999 towgs84=1.5,-2.25,3.0,0.1,-0.2,0.3,9 s=4.5 convention=position_vector", pt)
    assert(overridden.take(3).sameElements(viaParams.take(3)))
    // 3-value towgs84 has no rotation: no convention required
    val shift3 = run("proj=helmert towgs84=10,20,30", Array(0.0, 0.0, 0.0, Double.NaN))
    assert(shift3.take(3).sameElements(Array(10.0, 20.0, 30.0)))
    // error cases pinned by more_builtins.gie:447-449 and the reference's
    // read_convention: coordinate_frame with towgs84, rotation without an
    // explicit convention
    intercept[ProjString.BadProjString] {
      ProjString.parse("proj=helmert towgs84=1,2,3,4,5,6,7 convention=coordinate_frame")
    }
    intercept[ProjString.BadProjString] {
      ProjString.parse("proj=helmert towgs84=1,2,3,4,5,6,7")
    }
  }

  test("adams family + spilhaus grid fixtures pass") {
    check("guyou.gie", minChecks = 300, mustCover = Seq("guyou"))
    check("adams_hemi.gie", minChecks = 100, mustCover = Seq("adams_hemi"))
    check("adams_ws1.gie", minChecks = 100, mustCover = Seq("adams_ws1"))
    check("adams_ws2.gie", minChecks = 300, mustCover = Seq("adams_ws2"))
    check("peirce_q.gie", minChecks = 300, mustCover = Seq("peirce_q"))
    check("spilhaus.gie", minChecks = 50, mustCover = Seq("spilhaus"))
  }
}
