package graft

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Path}
import graft.geo.grids.Grids

/** Synthesized NTv2 grids for the tests of grid mechanics (fetch seam,
  * CRS→CRS grid candidates, planner bbox dispatch), which need some valid
  * grid but none of a published grid's values.
  *
  * Every byte is written here from the published NTv2 layout: 11 overview
  * records and 11 subgrid records of 16 bytes (8-byte label, 8-byte
  * value), then one 16-byte node per grid point (float32 latitude shift,
  * longitude shift and their two accuracies, in arc-seconds, longitude
  * positive west), rows south to north and each row east to west, then an
  * `END` record.  The first use in a JVM writes all grids into one temp
  * dir and registers it with [[Grids.addSearchDir]]; the `graft_synth_`
  * names cannot shadow a real grid on the search path. */
object GridFixtures {

  /** One single-subgrid NTv2 file `fileName` covering
    * `west..east × south..north` (degrees) with nodes every `stepDeg`,
    * carrying [[shiftArcSec]]. */
  final case class Ntv2Grid(fileName: String, west: Double, south: Double,
                            east: Double, north: Double, stepDeg: Double) {
    val cols: Int = math.round((east - west) / stepDeg).toInt + 1
    val rows: Int = math.round((north - south) / stepDeg).toInt + 1

    /** The grid name to put in `+grids=` / `+nadgrids=`; the first call
      * in a JVM writes every fixture grid and registers their dir. */
    def name: String = { dir; fileName }

    /** The written file (same first-call behaviour as [[name]]). */
    def path: Path = dir.resolve(fileName)
  }

  /** Covers 4..7 × 52..55, the extent the grid-mechanics tests document. */
  val Hgrid: Ntv2Grid = Ntv2Grid("graft_synth_4_7_52_55.gsb", 4.0, 52.0, 7.0, 55.0, 0.25)

  /** Covers −5.5..10 × 41..52, PlannerSpec's NTF-style candidate box. */
  val NtfBox: Ntv2Grid = Ntv2Grid("graft_synth_ntf_box.gsb", -5.5, 41.0, 10.0, 52.0, 0.5)

  val all: Seq[Ntv2Grid] = Seq(Hgrid, NtfBox)

  /** The smooth shift field every fixture carries: (dLat, dLon) in
    * arc-seconds, east positive, between about 1 and 5 arc-seconds in
    * magnitude over both extents. */
  def shiftArcSec(lon: Double, lat: Double): (Double, Double) =
    (2.0 + 0.1 * lon - 0.05 * (lat - 48.0),
      -3.0 + 0.08 * (lat - 48.0) + 0.002 * lon * lat)

  private lazy val dir: Path = {
    val d = Files.createTempDirectory("graft-synth-grids")
    d.toFile.deleteOnExit()
    all.foreach { g =>
      val f = d.resolve(g.fileName)
      Files.write(f, ntv2Bytes(g))
      f.toFile.deleteOnExit()
    }
    Grids.addSearchDir(d.toString)
    d
  }

  private def ntv2Bytes(g: Ntv2Grid): Array[Byte] = {
    val buf = ByteBuffer.allocate(16 * (11 + 11 + g.cols * g.rows + 1))
      .order(ByteOrder.LITTLE_ENDIAN)
    def label(s: String): Unit = buf.put(s.padTo(8, ' ').getBytes("US-ASCII"), 0, 8)
    def int(s: String, v: Int): Unit = { label(s); buf.putInt(v); buf.putInt(0) }
    def text(s: String, v: String): Unit = { label(s); label(v) }
    def dbl(s: String, v: Double): Unit = { label(s); buf.putDouble(v) }
    int("NUM_OREC", 11); int("NUM_SREC", 11); int("NUM_FILE", 1)
    text("GS_TYPE", "SECONDS"); text("VERSION", "NTv2.0")
    text("SYSTEM_F", "SYNTH_F"); text("SYSTEM_T", "SYNTH_T")
    dbl("MAJOR_F", 6378137.0); dbl("MINOR_F", 6356752.314)
    dbl("MAJOR_T", 6378137.0); dbl("MINOR_T", 6356752.314)
    text("SUB_NAME", "SYNTH"); text("PARENT", "NONE")
    text("CREATED", "20260101"); text("UPDATED", "20260101")
    dbl("S_LAT", g.south * 3600); dbl("N_LAT", g.north * 3600)
    dbl("E_LONG", -g.east * 3600); dbl("W_LONG", -g.west * 3600)
    dbl("LAT_INC", g.stepDeg * 3600); dbl("LONG_INC", g.stepDeg * 3600)
    int("GS_COUNT", g.cols * g.rows)
    for (r <- 0 until g.rows; c <- 0 until g.cols) {
      val (dLat, dLon) = shiftArcSec(g.east - c * g.stepDeg, g.south + r * g.stepDeg)
      buf.putFloat(dLat.toFloat).putFloat((-dLon).toFloat)
        .putFloat(0.01f).putFloat(0.01f)
    }
    label("END"); buf.putLong(0L)
    buf.array()
  }
}
