package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.geo.proj.{CrsPlanner, ProjString}
import graft.geo.kernels.PointKernel

/** CRS→CRS planner semantics (reference: pj_get_suggested_operation,
  * trans.cpp:47-176 + the HUGE_VAL retry at :233-342): bbox dispatch,
  * accuracy ranking, retry-on-error, grid-free fallback.  The grid ops run
  * on synthesized NTv2 grids ([[GridFixtures]]). */
class PlannerSpec extends AnyFunSuite {
  private val gridOp = ProjString.parse(
    s"+proj=hgridshift +grids=${GridFixtures.Hgrid.name}")
  private val offOp = ProjString.parse("+proj=geogoffset +dlon=18 +dlat=-36")

  private def runFwd(k: PointKernel, lon: Double, lat: Double): Array[Double] = {
    val v = Array(math.toRadians(lon), math.toRadians(lat), 0.0, 0.0)
    assert(k.fwd(v), s"fwd failed at ($lon, $lat)")
    Array(math.toDegrees(v(0)), math.toDegrees(v(1)))
  }

  test("in-bbox point uses the high-accuracy grid, outside falls back") {
    val planner = CrsPlanner.kernel(Seq(
      CrsPlanner.Candidate(gridOp, 4.0, 52.0, 7.0, 55.0, accuracy = 0.05),
      CrsPlanner.Candidate(offOp, -180, -90, 180, 90, accuracy = 5.0,
        gridFree = true)))
    val inside = runFwd(planner, 5.5, 53.5)
    val direct = runFwd(gridOp, 5.5, 53.5)
    assert(inside.sameElements(direct))
    val outside = runFwd(planner, 10.0, 40.0)
    assert(math.abs(outside(0) - (10.0 + 18.0 / 3600.0)) < 1e-9)
    assert(math.abs(outside(1) - (40.0 - 36.0 / 3600.0)) < 1e-9)
  }

  test("operation error inside a too-large bbox retries the next candidate") {
    // the candidate CLAIMS the whole world but its grid only covers
    // 4..7 x 52..55 — the kernel errors outside, and per the reference's
    // retry logic the planner falls through to the offset op
    val planner = CrsPlanner.kernel(Seq(
      CrsPlanner.Candidate(gridOp, -180, -90, 180, 90, accuracy = 0.05),
      CrsPlanner.Candidate(offOp, -180, -90, 180, 90, accuracy = 5.0,
        gridFree = true)))
    val far = runFwd(planner, 100.0, 10.0)
    assert(math.abs(far(0) - (100.0 + 18.0 / 3600.0)) < 1e-9)
    val in = runFwd(planner, 5.0, 53.0)
    assert(in.sameElements(runFwd(gridOp, 5.0, 53.0)))
  }

  test("accuracy then pseudo-area ranks overlapping candidates") {
    val off2 = ProjString.parse("+proj=geogoffset +dlon=3600") // +1 degree
    val planner = CrsPlanner.kernel(Seq(
      CrsPlanner.Candidate(off2, 0, 0, 20, 20, accuracy = 1.0),
      CrsPlanner.Candidate(offOp, -180, -90, 180, 90, accuracy = 1.0,
        gridFree = true)))
    // equal accuracy: the smaller-area candidate wins inside its bbox
    val in = runFwd(planner, 10.0, 10.0)
    assert(math.abs(in(0) - 11.0) < 1e-9)
    val out = runFwd(planner, 30.0, 10.0)
    assert(math.abs(out(0) - (30.0 + 18.0 / 3600.0)) < 1e-9)
  }

  test("inverse direction dispatches on the destination bbox (NTF grid)") {
    // a grid over the candidate's own box with arcsec shifts, so the
    // forward image stays inside the destination box; roundtrip must
    // recover through the planner
    val ntf = ProjString.parse(
      s"+proj=hgridshift +grids=${GridFixtures.NtfBox.name}")
    val planner = CrsPlanner.kernel(Seq(
      CrsPlanner.Candidate(ntf, -5.5, 41.0, 10.0, 52.0, accuracy = 0.05,
        dstWestDeg = -5.5, dstSouthDeg = 41.0, dstEastDeg = 10.0,
        dstNorthDeg = 52.0),
      CrsPlanner.Candidate(offOp, -180, -90, 180, 90, accuracy = 5.0,
        gridFree = true)))
    val v = Array(math.toRadians(2.25), math.toRadians(46.5), 0.0, 0.0)
    assert(planner.fwd(v))
    val shifted = math.toDegrees(v(0))
    assert(math.abs(shifted - 2.25) > 1e-5 && math.abs(shifted - 2.25) < 0.01,
      s"grid op not applied: $shifted") // grid, not the +18" offset
    assert(planner.inv(v))
    assert(math.abs(math.toDegrees(v(0)) - 2.25) < 1e-9)
    assert(math.abs(math.toDegrees(v(1)) - 46.5) < 1e-9)
  }
}
