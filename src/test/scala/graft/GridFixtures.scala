package graft

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets.US_ASCII
import java.nio.file.{Files, Path}
import graft.geo.grids.Grids

/** Synthesized shift grids in every format the loaders read: NTv2 (one and
  * two levels), CTable2, GTX and GeoTIFF.  The grid-mechanics tests (fetch
  * seam, CRS→CRS grid candidates, planner bbox dispatch) need some valid
  * grid but none of a published grid's values; the grid-format tests need
  * values they can predict.  Every field here is bilinear in (lon, lat)
  * degrees, which bilinear interpolation reproduces exactly, so the value
  * expected at any point is analytic up to float32 node rounding.
  *
  * Every byte is written here from the published layouts:
  *   - NTv2: 11 overview records and, per subgrid, 11 records of 16 bytes
  *     (8-byte label, 8-byte value), then one 16-byte node per grid point
  *     (float32 latitude shift, longitude shift and their two accuracies,
  *     in arc-seconds, longitude positive west), rows south to north and
  *     each row east to west; an `END` record closes the file;
  *   - CTable2: a 160-byte header (`CTABLE V2` magic, an 80-byte
  *     description, little-endian float64 west, south, x step and y step
  *     in radians at 96, int32 width and height at 128), then float32
  *     (lon, lat) pairs row-major from the south-west node;
  *   - GTX: a 40-byte big-endian header (float64 south, west, y step and
  *     x step in degrees, int32 rows and cols), then big-endian float32
  *     nodes row-major from the south;
  *   - GeoTIFF: classic little-endian TIFF, one uncompressed float32 strip
  *     per IFD, ModelPixelScale, ModelTiepoint, a GeoKeyDirectory
  *     (geographic model, pixel-is-point), GDAL_METADATA with TYPE and
  *     the per-sample DESCRIPTION and UNITTYPE, and GDAL_NODATA.
  *
  * The first use in a JVM writes all grids into one temp dir and registers
  * it with [[Grids.addSearchDir]]; the `graft_synth_` names cannot shadow
  * a real grid on the search path. */
object GridFixtures {

  /** a + b·lon + c·lat + d·lon·lat over degrees. */
  final case class Field(a: Double, b: Double, c: Double, d: Double) {
    def apply(lon: Double, lat: Double): Double = a + b * lon + c * lat + d * lon * lat
  }

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

  /** The single-subgrid NTv2 fixtures carrying [[shiftArcSec]]. */
  val all: Seq[Ntv2Grid] = Seq(Hgrid, NtfBox)

  /** The smooth shift field every fixture carries: (dLat, dLon) in
    * arc-seconds, east positive, between about 1 and 5 arc-seconds in
    * magnitude over both extents. */
  def shiftArcSec(lon: Double, lat: Double): (Double, Double) =
    (2.0 + 0.1 * lon - 0.05 * (lat - 48.0),
      -3.0 + 0.08 * (lat - 48.0) + 0.002 * lon * lat)

  /** A node lattice in degrees: `cols × rows` nodes every `step` from
    * the south-west node (west, south). */
  final case class Lattice(west: Double, south: Double, cols: Int, rows: Int, step: Double) {
    def east: Double = west + (cols - 1) * step
    def north: Double = south + (rows - 1) * step
    def lon(c: Int): Double = west + c * step
    def lat(r: Int): Double = south + r * step
  }

  /** One shift grid of a fixture file: its lattice and one field per
    * channel, named by its GeoTIFF DESCRIPTION. */
  final case class Level(at: Lattice, channels: Seq[(String, Field)]) {
    def field(description: String): Field = channels.find(_._1 == description).get._2
    /** The field `description` at node (col, row). */
    def node(description: String, c: Int, r: Int): Double = field(description)(at.lon(c), at.lat(r))
  }

  // ------------------------------------------------------------- NTv2, 2 levels

  /** Two-level NTv2: a parent over 0..4 × 40..44 (0.5° nodes) and one
    * child subgrid over 1..2 × 41..42 (0.125° nodes) with a different
    * field.  Channels are arc-seconds, east positive. */
  val Ntv2Parent: Level = Level(Lattice(0.0, 40.0, 9, 9, 0.5), Seq(
    "latitude_offset" -> Field(1.5, 0.2, -0.03, 0.004),
    "longitude_offset" -> Field(-2.0, 0.1, 0.02, -0.003)))
  val Ntv2Child: Level = Level(Lattice(1.0, 41.0, 9, 9, 0.125), Seq(
    "latitude_offset" -> Field(-1.0, 0.3, 0.05, -0.002),
    "longitude_offset" -> Field(2.5, -0.2, 0.01, 0.005)))
  val TwoLevelNtv2 = "graft_synth_two_level.gsb"

  // ---------------------------------------------------- CTable2 + GTX pairs

  /** CTable2 for `hgridshift`: radians, stored with the longitude
    * positive west (the field below is east positive). */
  val Ctable2Shift: Level = Level(Lattice(5.0, 45.0, 7, 6, 0.5), Seq(
    "longitude_offset" -> Field(1.0e-5, 2.0e-7, -1.0e-7, 3.0e-9),
    "latitude_offset" -> Field(-2.0e-5, 1.0e-7, 2.0e-7, -2.0e-9)))
  val Ctable2ShiftFile = "graft_synth_shift.ct2"

  /** Velocity field (mm/yr) shared by the `deformation` fixtures: the
    * CTable2 + GTX pair and the 3-channel GeoTIFF carry the same nodes. */
  val Velocity: Level = Level(Lattice(9.0, 49.0, 6, 5, 1.0), Seq(
    "east_velocity" -> Field(12.0, 0.5, -0.2, 0.01),
    "north_velocity" -> Field(-8.0, 0.3, 0.1, -0.004),
    "up_velocity" -> Field(3.0, -0.1, 0.05, 0.002)))
  /** CTable2 (east, north) velocity slots, stored raw: `deformation`
    * reads them without the west-positive compensation. */
  val VelocityCtable2 = "graft_synth_vel.ct2"
  val VelocityGtx = "graft_synth_vel_up.gtx"
  val VelocityTif = "graft_synth_vel.tif"

  /** Geoid-like GTX (metres) for `vgridshift`, with one −88.8888 node at
    * (1, 1) and an all-nodata cell (3..4, 2..3). */
  val Geoid: Level = Level(Lattice(20.0, 30.0, 6, 5, 0.5), Seq(
    "geoid_undulation" -> Field(40.0, 0.5, -0.3, 0.01)))
  val GeoidNodata: Set[(Int, Int)] = Set((1, 1), (3, 2), (4, 2), (3, 3), (4, 3))
  val GeoidGtx = "graft_synth_geoid.gtx"

  // ----------------------------------------------------------------- GeoTIFF

  /** `gridshift` HORIZONTAL_OFFSET, two IFDs: the parent over 10..13 ×
    * 60..62 (0.5°) and a child IFD over 11..12 × 60.5..61.5 (0.25°) naming
    * it as `parent_grid_name`.  The parent's latitude channel holds the
    * GDAL_NODATA value at [[HorizontalTifNodata]]. */
  val HorizontalTifParent: Level = Level(Lattice(10.0, 60.0, 7, 5, 0.5), Seq(
    "latitude_offset" -> Field(0.8, 0.05, -0.01, 0.001),
    "longitude_offset" -> Field(-1.2, 0.02, 0.03, -0.0005)))
  val HorizontalTifChild: Level = Level(Lattice(11.0, 60.5, 5, 5, 0.25), Seq(
    "latitude_offset" -> Field(2.0, -0.1, 0.02, 0.002),
    "longitude_offset" -> Field(0.5, 0.04, -0.02, 0.001)))
  val HorizontalTifNodata: (Int, Int) = (5, 4)
  val TifNodata: Float = -32768.0f
  val HorizontalTif = "graft_synth_hoffset.tif"

  /** `xyzgridshift` translations (metres). */
  val Translation: Level = Level(Lattice(0.0, 44.0, 5, 4, 1.0), Seq(
    "x_translation" -> Field(-150.0, 0.5, 0.3, -0.01),
    "y_translation" -> Field(-60.0, -0.4, 0.2, 0.02),
    "z_translation" -> Field(320.0, 0.1, -0.5, 0.005)))
  val TranslationTif = "graft_synth_xyz.tif"

  /** GEOGRAPHIC_3D_OFFSET: latitude and longitude offsets (arc-seconds)
    * and an ellipsoidal height offset (metres) in one file, read as an
    * hgrid, a vgrid and a generic grid. */
  val Offset3d: Level = Level(Lattice(-3.0, 35.0, 5, 5, 0.5), Seq(
    "latitude_offset" -> Field(0.4, 0.02, 0.01, -0.001),
    "longitude_offset" -> Field(-0.7, 0.03, -0.02, 0.002),
    "ellipsoidal_height_offset" -> Field(25.0, 0.4, -0.2, 0.03)))
  val Offset3dTif = "graft_synth_3d.tif"

  /** The file name to put in `+grids=`, after writing every fixture. */
  def file(name: String): String = { dir; name }

  private lazy val dir: Path = {
    val d = Files.createTempDirectory("graft-synth-grids")
    d.toFile.deleteOnExit()
    val files = all.map(g => g.fileName -> ntv2Bytes(Seq(
      ("SYNTH", "NONE", Lattice(g.west, g.south, g.cols, g.rows, g.stepDeg), shiftArcSec _)))) ++ Seq(
      TwoLevelNtv2 -> ntv2Bytes(Seq(
        ("PARENT", "NONE", Ntv2Parent.at, latLon(Ntv2Parent)),
        ("CHILD", "PARENT", Ntv2Child.at, latLon(Ntv2Child)))),
      Ctable2ShiftFile -> ctable2Bytes(Ctable2Shift.at,
        (c, r) => -Ctable2Shift.node("longitude_offset", c, r),
        Ctable2Shift.node("latitude_offset", _, _)),
      VelocityCtable2 -> ctable2Bytes(Velocity.at,
        Velocity.node("east_velocity", _, _), Velocity.node("north_velocity", _, _)),
      VelocityGtx -> gtxBytes(Velocity.at, Velocity.node("up_velocity", _, _)),
      GeoidGtx -> gtxBytes(Geoid.at, (c, r) =>
        if (GeoidNodata((c, r))) -88.8888 else Geoid.node("geoid_undulation", c, r)),
      HorizontalTif -> tiffBytes(Seq(
        Ifd(HorizontalTifParent, Seq("TYPE" -> "HORIZONTAL_OFFSET", "grid_name" -> "PARENT"),
          "arc-second", nodata = Some((0, HorizontalTifNodata))),
        Ifd(HorizontalTifChild, Seq("grid_name" -> "CHILD", "parent_grid_name" -> "PARENT"),
          "arc-second"))),
      VelocityTif -> tiffBytes(Seq(Ifd(Velocity, Seq("TYPE" -> "VELOCITY"), "millimetres per year"))),
      TranslationTif -> tiffBytes(Seq(
        Ifd(Translation, Seq("TYPE" -> "GEOCENTRIC_TRANSLATION"), "metre"))),
      Offset3dTif -> tiffBytes(Seq(Ifd(Offset3d, Seq("TYPE" -> "GEOGRAPHIC_3D_OFFSET"),
        "arc-second", units = Map(2 -> "metre")))))
    for ((name, bytes) <- files) {
      val f = d.resolve(name)
      Files.write(f, bytes)
      f.toFile.deleteOnExit()
    }
    Grids.addSearchDir(d.toString)
    d
  }

  private def latLon(l: Level): (Double, Double) => (Double, Double) =
    (lon, lat) => (l.field("latitude_offset")(lon, lat), l.field("longitude_offset")(lon, lat))

  private def le(n: Int): ByteBuffer = ByteBuffer.allocate(n).order(ByteOrder.LITTLE_ENDIAN)

  private def label(buf: ByteBuffer, s: String): Unit =
    buf.put(s.padTo(8, ' ').getBytes(US_ASCII), 0, 8)

  /** NTv2 bytes for subgrids (name, parent name, lattice, (dLat, dLon)
    * arc-seconds east positive); the first is the top-level grid. */
  private def ntv2Bytes(subs: Seq[(String, String, Lattice, (Double, Double) => (Double, Double))]): Array[Byte] = {
    val buf = le(16 * (11 + subs.map(s => 11 + s._3.cols * s._3.rows).sum + 1))
    def int(s: String, v: Int): Unit = { label(buf, s); buf.putInt(v); buf.putInt(0) }
    def text(s: String, v: String): Unit = { label(buf, s); label(buf, v) }
    def dbl(s: String, v: Double): Unit = { label(buf, s); buf.putDouble(v) }
    int("NUM_OREC", 11); int("NUM_SREC", 11); int("NUM_FILE", subs.size)
    text("GS_TYPE", "SECONDS"); text("VERSION", "NTv2.0")
    text("SYSTEM_F", "SYNTH_F"); text("SYSTEM_T", "SYNTH_T")
    dbl("MAJOR_F", 6378137.0); dbl("MINOR_F", 6356752.314)
    dbl("MAJOR_T", 6378137.0); dbl("MINOR_T", 6356752.314)
    for ((name, parent, g, shift) <- subs) {
      text("SUB_NAME", name); text("PARENT", parent)
      text("CREATED", "20260101"); text("UPDATED", "20260101")
      dbl("S_LAT", g.south * 3600); dbl("N_LAT", g.north * 3600)
      dbl("E_LONG", -g.east * 3600); dbl("W_LONG", -g.west * 3600)
      dbl("LAT_INC", g.step * 3600); dbl("LONG_INC", g.step * 3600)
      int("GS_COUNT", g.cols * g.rows)
      for (r <- 0 until g.rows; c <- g.cols - 1 to 0 by -1) {
        val (dLat, dLon) = shift(g.lon(c), g.lat(r))
        buf.putFloat(dLat.toFloat).putFloat((-dLon).toFloat)
          .putFloat(0.01f).putFloat(0.01f)
      }
    }
    label(buf, "END"); buf.putLong(0L)
    buf.array()
  }

  /** CTable2 bytes: the node slots hold `lonSlot` and `latSlot` of node
    * (col, row) as given (the format stores the longitude positive west). */
  private def ctable2Bytes(g: Lattice, lonSlot: (Int, Int) => Double,
                           latSlot: (Int, Int) => Double): Array[Byte] = {
    val buf = le(160 + 8 * g.cols * g.rows)
    buf.put("CTABLE V2".getBytes(US_ASCII))
    buf.position(16).put("graft synthesized fixture".getBytes(US_ASCII))
    buf.position(96)
    buf.putDouble(math.toRadians(g.west)).putDouble(math.toRadians(g.south))
      .putDouble(math.toRadians(g.step)).putDouble(math.toRadians(g.step))
      .putInt(g.cols).putInt(g.rows)
    buf.position(160)
    for (r <- 0 until g.rows; c <- 0 until g.cols)
      buf.putFloat(lonSlot(c, r).toFloat).putFloat(latSlot(c, r).toFloat)
    buf.array()
  }

  private def gtxBytes(g: Lattice, value: (Int, Int) => Double): Array[Byte] = {
    val buf = ByteBuffer.allocate(40 + 4 * g.cols * g.rows).order(ByteOrder.BIG_ENDIAN)
    buf.putDouble(g.south).putDouble(g.west).putDouble(g.step).putDouble(g.step)
      .putInt(g.rows).putInt(g.cols)
    for (r <- 0 until g.rows; c <- 0 until g.cols) buf.putFloat(value(c, r).toFloat)
    buf.array()
  }

  /** One GeoTIFF IFD: the level's channels as samples, file-level
    * metadata `items`, every sample's UNITTYPE `unit` unless `units`
    * overrides it, and optionally the (channel, (col, row)) node that
    * holds [[TifNodata]] (GDAL_NODATA is written in every IFD). */
  private final case class Ifd(level: Level, items: Seq[(String, String)], unit: String,
                               units: Map[Int, String] = Map.empty,
                               nodata: Option[(Int, (Int, Int))] = None)

  /** Classic little-endian TIFF: the header, then per IFD its pixel strip,
    * its out-of-line tag values and its entry table, each IFD linked from
    * the previous one. */
  private def tiffBytes(ifds: Seq[Ifd]): Array[Byte] = {
    val bytes = scala.collection.mutable.ArrayBuffer.empty[Byte]
    def append(b: Array[Byte]): Int = {
      while (bytes.size % 4 != 0) bytes += 0
      val at = bytes.size
      bytes ++= b
      at
    }
    def shorts(vs: Int*): Array[Byte] = { val b = le(2 * vs.size); vs.foreach(v => b.putShort(v.toShort)); b.array() }
    def longs(vs: Int*): Array[Byte] = { val b = le(4 * vs.size); vs.foreach(b.putInt); b.array() }
    def doubles(vs: Double*): Array[Byte] = { val b = le(8 * vs.size); vs.foreach(b.putDouble); b.array() }
    def ascii(s: String): Array[Byte] = (s + "\u0000").getBytes(US_ASCII)
    append(le(8).put("II".getBytes(US_ASCII)).putShort(42.toShort).putInt(0).array())
    var linkAt = 4 // where the previous next-IFD offset lives
    for (ifd <- ifds) {
      val g = ifd.level.at
      val spp = ifd.level.channels.size
      val strip = le(4 * spp * g.cols * g.rows)
      // TIFF rows run north to south; samples are interleaved per pixel
      for (r <- g.rows - 1 to 0 by -1; c <- 0 until g.cols; i <- 0 until spp)
        strip.putFloat(
          if (ifd.nodata.contains((i, (c, r)))) TifNodata
          else ifd.level.node(ifd.level.channels(i)._1, c, r).toFloat)
      val stripAt = append(strip.array())
      val meta = (ifd.items.map { case (k, v) => s"""  <Item name="$k">$v</Item>""" } ++
        ifd.level.channels.indices.flatMap { i =>
          Seq(s"""  <Item name="DESCRIPTION" sample="$i" role="description">${ifd.level.channels(i)._1}</Item>""",
            s"""  <Item name="UNITTYPE" sample="$i" role="unittype">${ifd.units.getOrElse(i, ifd.unit)}</Item>""")
        }).mkString("<GDALMetadata>\n", "\n", "\n</GDALMetadata>")
      // (tag, type, value bytes): type 2 ASCII, 3 SHORT, 4 LONG, 12 DOUBLE
      val tags = Seq[(Int, Int, Array[Byte])](
        (254, 4, longs(0)), (256, 4, longs(g.cols)), (257, 4, longs(g.rows)),
        (258, 3, shorts(Seq.fill(spp)(32): _*)), (259, 3, shorts(1)), (262, 3, shorts(1)),
        (273, 4, longs(stripAt)), (277, 3, shorts(spp)), (278, 4, longs(g.rows)),
        (279, 4, longs(strip.capacity)), (284, 3, shorts(1)),
        (339, 3, shorts(Seq.fill(spp)(3): _*)),
        (33550, 12, doubles(g.step, g.step, 0.0)),
        (33922, 12, doubles(0.0, 0.0, 0.0, g.west, g.north, 0.0)),
        // GeoKey directory 1.1.0 with 3 keys: geographic model,
        // pixel-is-point raster, WGS 84
        (34735, 3, shorts(1, 1, 0, 3, 1024, 0, 1, 2, 1025, 0, 1, 2, 2048, 0, 1, 4326)),
        (42112, 2, ascii(meta)), (42113, 2, ascii(TifNodata.toInt.toString)))
      val typeSize = Map(2 -> 1, 3 -> 2, 4 -> 4, 12 -> 8)
      val valueAt = tags.map { case (_, _, v) => if (v.length <= 4) -1 else append(v) }
      val entries = le(2 + 12 * tags.size + 4).putShort(tags.size.toShort)
      for (((tag, typ, v), at) <- tags.zip(valueAt)) {
        entries.putShort(tag.toShort).putShort(typ.toShort).putInt(v.length / typeSize(typ))
        if (at >= 0) entries.putInt(at) else entries.put(java.util.Arrays.copyOf(v, 4))
      }
      entries.putInt(0)
      val ifdAt = append(entries.array())
      val link = le(4).putInt(ifdAt).array()
      for (i <- 0 until 4) bytes(linkAt + i) = link(i)
      linkAt = ifdAt + 2 + 12 * tags.size
    }
    bytes.toArray
  }
}
