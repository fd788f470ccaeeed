package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.geo.grids.Grids
import graft.geo.proj.ProjString

/** Read-back of the synthesized NTv2 fixtures: the tests that run on them
  * compare two paths over the same bytes, so a mis-written grid would
  * otherwise go unnoticed. */
class GridFixturesSpec extends AnyFunSuite {

  test("synthesized NTv2 grids load with their extent, shift nodes by the written value, refuse outside") {
    for (g <- GridFixtures.all) {
      val sets = Grids.hgridSets(g.name)
      assert(sets.map(_.length) == List(1), s"${g.fileName}: one file, one subgrid")
      val h = sets.head.head
      assert(h.width == g.cols && h.height == g.rows, s"${g.fileName}: ${h.width}x${h.height}")
      val e = h.extent
      for ((what, got, want) <- Seq(("west", e.west, g.west), ("south", e.south, g.south),
          ("east", e.east, g.east), ("north", e.north, g.north),
          ("resX", e.resX, g.stepDeg), ("resY", e.resY, g.stepDeg)))
        assert(math.abs(math.toDegrees(got) - want) < 1e-9,
          s"${g.fileName} $what: ${math.toDegrees(got)} vs $want")

      val k = ProjString.parse(s"+proj=hgridshift +grids=${g.name}")
      // nodes off every symmetry axis, so a swapped row or column order shows
      for ((c, r) <- Seq((1, 2), (g.cols / 3, g.rows / 2), (g.cols - 2, g.rows - 3))) {
        val lon = g.west + c * g.stepDeg
        val lat = g.south + r * g.stepDeg
        val (dLat, dLon) = GridFixtures.shiftArcSec(lon, lat)
        val v = Array(math.toRadians(lon), math.toRadians(lat), 0.0, 0.0)
        assert(k.fwd(v), s"${g.fileName}: fwd failed at node ($lon, $lat)")
        val gotLon = (math.toDegrees(v(0)) - lon) * 3600
        val gotLat = (math.toDegrees(v(1)) - lat) * 3600
        assert(math.abs(gotLon - dLon.toFloat) < 1e-6 && math.abs(gotLat - dLat.toFloat) < 1e-6,
          s"${g.fileName} node ($lon, $lat): shift ($gotLat, $gotLon)\" vs ($dLat, $dLon)\"")
      }
      val out = Array(math.toRadians(g.east + 1), math.toRadians(g.north + 1), 0.0, 0.0)
      assert(!k.fwd(out), s"${g.fileName}: a point outside the grid was shifted")
    }
  }
}
