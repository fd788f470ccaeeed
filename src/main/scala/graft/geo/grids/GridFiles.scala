package graft.geo.grids

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Path, Paths}

import scala.collection.concurrent.TrieMap

import graft.geo.proj.ProjString.{AssetMissing, BadProjString}

/** In-memory shift grids parsed from the public grid-file formats the
  * reference engine reads (NTv2 `.gsb`, GTX, CTable2 — see
  * /root/reference/src/grids.cpp:246-370 (GTX), :1977-2056 (CTable2),
  * :2058-2345 (NTv2)).  All conventions are normalized at load time:
  *
  *   - rows run south → north (y = 0 at `south`), columns west → east
  *     (x = 0 at `west`);
  *   - horizontal shifts are stored in radians, positive east/north (the
  *     NTv2 / CTable2 "west longitude positive" convention and the NTv2
  *     east-to-west row order are compensated here, once, instead of on
  *     every lookup as in the reference's `valueAt`);
  *   - extents are radians.
  *
  * Grids are plain serializable arrays (≤ a few MB for every published
  * shift grid), so a kernel holding one ships to Spark executors inside
  * the serialized expression exactly like any other setup constant; the
  * process-wide [[Grids]] registry deduplicates loads per JVM.
  */
final case class GridExtent(west: Double, south: Double,
                            east: Double, north: Double,
                            resX: Double, resY: Double,
                            geographic: Boolean = true) {
  /** reference: ExtentAndRes::fullWorldLongitude (grids.cpp:91-93) */
  def fullWorldLongitude: Boolean = east - west + resX >= 2 * math.Pi - 1e-10

  /** reference: isPointInExtent (grids.cpp:1690-1705) */
  def containsPoint(x0: Double, y: Double, eps: Double): Boolean = {
    if (!(y + eps >= south && y - eps <= north)) return false
    if (fullWorldLongitude) return true
    var x = x0
    if (x + eps < west) x += 2 * math.Pi
    else if (x - eps > east) x -= 2 * math.Pi
    x + eps >= west && x - eps <= east
  }
}

/** One shift grid, whichever operation reads it, with its finer sub-grids
  * (the NTv2 and GeoTIFF parent/child structure) — the reference keeps one
  * grid base (ExtentAndRes, gridAt, insertIntoHierarchy; grids.cpp) under
  * its horizontal, vertical and generic grid sets, and so does this port.
  * What `channels` holds depends on how the file was loaded:
  *
  *   - as an hgrid (NTv1/NTv2/CTable2/GeoTIFF): the (longitude, latitude)
  *     shifts in radians, east positive;
  *   - as a vgrid (GTX/GeoTIFF): the one offset channel as stored;
  *   - as a generic grid (GeoTIFF): every sample channel, described by its
  *     GDAL metadata in `meta`, keyed (sample, item) with sample −1 for the
  *     grid's own items.  A GeoTIFF IFD without a TYPE item carries the
  *     file's first grid's items under its own (GTiffGenericGrid::
  *     setFirstGrid).
  *
  * `noData` is the GeoTIFF nodata value; `rawWestPositive` marks the
  * formats whose raw longitude values are west positive (NTv1/NTv2/
  * CTable2: the loaders normalize the arrays to east positive, but the
  * reference's raw value path, pj_hgrid_value, returns the convention on
  * disk; GeoTIFF grids are east positive either way, grids.cpp:2449-2462).
  * Each operation keeps its own interpolation and edge rules. */
final class Grid(val name: String, val width: Int, val height: Int,
                 val extent: GridExtent,
                 val channels: Array[Array[Float]],
                 val meta: Map[(Int, String), String] = Map.empty,
                 val noData: Option[Float] = None,
                 var children: List[Grid] = Nil,
                 val isNull: Boolean = false,
                 val rawWestPositive: Boolean = false) extends Serializable {
  def item(key: String, sample: Int = -1): String = meta.getOrElse((sample, key), "")
  def gridType: String = item("TYPE")

  /** The channel described as `description`, or `default`. */
  def channelOf(description: String, default: Int = -1): Int =
    Grid.channelOf(meta, channels.length, description, default)

  def isNodata(v: Float): Boolean =
    v.isNaN || (noData match { case Some(nd) => v == nd; case None => false })

  /** reference: HorizontalShiftGrid::gridAt (grids.cpp:2762-2773) —
    * descend into the finest sub-grid containing the point, its extent
    * widened by `relTol` of its resolution. */
  def gridAt(x: Double, y: Double, relTol: Double): Grid = {
    var cs = children
    while (cs.nonEmpty) {
      val c = cs.head
      val eps = (c.extent.resX + c.extent.resY) * relTol
      if (c.extent.containsPoint(x, y, eps)) return c.gridAt(x, y, relTol)
      cs = cs.tail
    }
    this
  }
}

object Grid {
  /** The last of `count` channels whose DESCRIPTION item is
    * `description` (the reference's loops keep the last match), or
    * `default`. */
  def channelOf(meta: Map[(Int, String), String], count: Int, description: String,
                default: Int): Int = {
    var i = count - 1
    while (i >= 0 && meta.getOrElse((i, "DESCRIPTION"), "") != description) i -= 1
    if (i < 0) default else i
  }
}

/** Loader + per-JVM registry.  Grid names resolve against
  * `GRAFT_GRID_PATH` (colon-separated) plus the reference test-data
  * directories, mirroring the reference's PROJ_DATA search.  [[Grids.locate]]
  * is the one resolver of a required grid or model file: an absent file
  * throws [[graft.geo.proj.ProjString.AssetMissing]], a present but
  * malformed one a [[Grids.BadGrid]] (a `BadProjString`). */
object Grids {
  final val RelTol = 1e-5 // REL_TOLERANCE_HGRIDSHIFT, grids.cpp:2760
  private final val ArcSecToRad = (math.Pi / 180.0) / 3600.0

  /** A grid file that is present but malformed. */
  final case class BadGrid(msg: String) extends BadProjString(msg)

  /** Programmatic additions to the grid search path — the
    * `proj_context_set_search_paths` analogue (reference
    * src/ctx.cpp); takes effect for subsequent resolutions. */
  @volatile private var extraDirs: List[String] = Nil
  def addSearchDir(dir: String): Unit =
    synchronized { if (!extraDirs.contains(dir)) extraDirs ::= dir }

  /** Root of the reference source tree (its `data`, `src` and `test`
    * dirs): `GRAFT_REFERENCE_DIR`, else its conventional mount point. */
  val referenceDir: String = sys.env.getOrElse("GRAFT_REFERENCE_DIR", "/root/reference")

  def searchDirs: Seq[String] =
    extraDirs ++
      sys.env.get("GRAFT_GRID_PATH").toSeq.flatMap(_.split(':').toSeq) ++
      Seq(s"$referenceDir/data", s"$referenceDir/data/tests")

  // ------------------------------------------------ remote grid access
  //
  // The reference's network file manager
  // (/root/reference/src/networkfilemanager.cpp: CDN fetch +
  // proj_context_set_enable_network + the local chunk cache) mapped to
  // this engine's driver-side grid model: grids not on the local search
  // path are requested from registered fetchers and written ONCE into a
  // per-JVM cache directory, after which they resolve like local files
  // (kernels then broadcast the parsed arrays into plans as usual — on a
  // cluster only the driver ever fetches).  This sandbox has zero
  // egress, so no HTTP fetcher ships; production registers one backed by
  // its object store or the PROJ CDN.  The seam, the enable switch, the
  // resolution order (local dirs → cache → fetchers) and the
  // fetch-once caching are real and spec-tested with injected fetchers.

  /** One remote source of grid bytes (full-file model: PROJ's chunked
    * reads are an HTTP range-request optimization; a Spark driver wants
    * the whole file once, then parses it into plan constants). */
  trait GridFetcher { def fetch(name: String): Option[Array[Byte]] }

  /** Production-ready [[GridFetcher]] over a base URL — an object store
    * mirror, an internal artifact server, or the PROJ CDN itself
    * (https://cdn.proj.org publishes every registry grid under its
    * `proj_grid_name`; the grid_alternatives table maps classic names to
    * those).  `file:` base URLs work identically, which is how the
    * egress-free spec exercises this class.  Day-one recipe, DRIVER side
    * only:
    * {{{
    * Grids.registerFetcher(Grids.UrlFetcher("https://cdn.proj.org"))
    * Grids.setNetworkEnabled(true)   // default off, like the reference
    * }}}
    * Executors never fetch: grids are parsed on the driver once (cached
    * under [[fetchCacheDir]]) and the arrays ship inside plans as
    * broadcast constants — at 1000 executors that is one download, not
    * one thousand. */
  final case class UrlFetcher(baseUrl: String) extends GridFetcher {
    def fetch(name: String): Option[Array[Byte]] =
      try {
        val in = new java.net.URI(baseUrl.stripSuffix("/") + "/" + name)
          .toURL.openStream()
        try Some(in.readAllBytes()) finally in.close()
      } catch {
        // a name that is not a valid URI (a space, say) is a miss like
        // any other, so resolution falls through to AssetMissing
        case _: java.io.IOException | _: java.net.URISyntaxException |
             _: IllegalArgumentException => None
      }
  }

  @volatile private var fetchers: List[GridFetcher] = Nil
  @volatile private var networkEnabled = false

  /** Register a remote source (consulted newest-first). */
  def registerFetcher(f: GridFetcher): Unit =
    synchronized { fetchers ::= f }

  /** `proj_context_set_enable_network` analogue: fetchers are only
    * consulted while enabled (default off, like the reference). */
  def setNetworkEnabled(on: Boolean): Unit = networkEnabled = on

  /** Test hook: drop registered fetchers (the registry is JVM-global). */
  def clearFetchers(): Unit = synchronized { fetchers = Nil }

  /** Per-JVM cache of fetched grids (the "user writable directory"
    * cache of the reference, proj_context_set_user_writable_directory). */
  lazy val fetchCacheDir: Path = {
    val d = Files.createTempDirectory("graft-grid-cache")
    d.toFile.deleteOnExit()
    d
  }

  private def fetchToCache(name: String): Option[Path] = {
    if (!networkEnabled || fetchers.isEmpty) return None
    // grid names are bare file names; path separators would escape the
    // cache dir — refuse rather than sanitize
    if (name.contains('/') || name.contains('\\') || name.contains(".."))
      return None
    val target = fetchCacheDir.resolve(name)
    if (Files.isRegularFile(target)) return Some(target)
    fetchers.iterator.map(_.fetch(name)).collectFirst { case Some(b) => b }
      .map { bytes =>
        // atomic publish so concurrent resolvers never see a half file;
        // a concurrent winner is fine — the content is the same
        val tmp = Files.createTempFile(fetchCacheDir, "fetch-", ".part")
        Files.write(tmp, bytes)
        try Files.move(tmp, target,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        catch {
          case _: java.nio.file.FileAlreadyExistsException |
               _: java.nio.file.FileSystemException
              if Files.isRegularFile(target) => Files.deleteIfExists(tmp)
        }
        target
      }
  }

  def resolve(name: String): Option[Path] =
    searchDirs.iterator.map(d => Paths.get(d, name)).find(Files.isRegularFile(_))
      .orElse(fetchToCache(name))

  /** The one resolver of a required grid or model file: its path, or
    * [[AssetMissing]] naming the file and the dirs searched. */
  def locate(name: String): Path =
    resolve(name).getOrElse(throw AssetMissing(s"grid $name", name, searchDirs))

  def available(name: String): Boolean =
    name == "null" || resolve(name).exists { p =>
      val head = new Array[Byte](16)
      val in = Files.newInputStream(p)
      try in.readNBytes(head, 0, head.length) finally in.close()
      sniff(p, head) != Format.Unknown
    }

  private object Format extends Enumeration {
    val Ntv2, Ntv1, Ctable2, Tiff, Gtx, Unknown = Value
  }

  /** The one format sniff: the magic in the file's first bytes, else the
    * `.gtx` extension (GTX has no magic). */
  private def sniff(p: Path, head: Array[Byte]): Format.Value = {
    val s = new String(head, 0, math.min(16, head.length), "ISO-8859-1")
    if (s.startsWith("NUM_OREC")) Format.Ntv2
    else if (s.startsWith("HEADER")) Format.Ntv1
    else if (s.startsWith("CTABLE V2")) Format.Ctable2
    else if (s.startsWith("II") || s.startsWith("MM")) Format.Tiff
    else if (p.toString.toLowerCase.endsWith(".gtx")) Format.Gtx
    else Format.Unknown
  }

  /** Loaded grid lists keyed by (how the file was read, its path): one
    * `.tif` loads differently as an hgrid, a vgrid and a generic grid. */
  private val cache = TrieMap.empty[(Char, String), List[Grid]]

  /** The `+grids=null` grid: any point, zero shift. */
  val nullGrid: Grid = new Grid("null", 3, 3,
    GridExtent(-math.Pi, -math.Pi / 2, math.Pi, math.Pi / 2, math.Pi, math.Pi / 2),
    Array.empty, isNull = true)

  /** Load the comma-separated `+grids=` spec ('@' prefix = optional).
    * Returns one entry per loaded file (each a list of top-level grids).
    * A required grid throws [[AssetMissing]] when absent and [[BadGrid]]
    * when malformed; an optional grid that fails to load for any reason
    * is skipped, as the reference skips one that fails to open (corrupt
    * files throw more than BadGrid: buffer reads past EOF, bad numeric
    * attributes). */
  private def gridSets(spec: String, kind: Char, load: Path => List[Grid]): List[List[Grid]] =
    spec.split(',').toList.flatMap { raw =>
      val optional = raw.startsWith("@")
      val name = if (optional) raw.substring(1) else raw
      if (name == "null") Some(List(nullGrid))
      else
        try { val p = locate(name); Some(cache.getOrElseUpdate((kind, p.toString), load(p))) }
        catch { case scala.util.control.NonFatal(_) if optional => None }
    }

  /** Horizontal grids for `hgridshift`, `+nadgrids` and `deformation
    * +xy_grids`: channels (longitude, latitude) shift. */
  def hgridSets(spec: String): List[List[Grid]] = gridSets(spec, 'h', p => {
    val bytes = Files.readAllBytes(p)
    val name = p.getFileName.toString
    sniff(p, bytes) match {
      case Format.Ntv2 => loadNtv2(name, bytes)
      case Format.Ntv1 => List(loadNtv1(name, bytes))
      case Format.Ctable2 => List(loadCtable2(name, bytes))
      case Format.Tiff => TiffGrids.loadH(name, bytes)
      case _ => throw BadGrid(s"unrecognized horizontal grid format: $p")
    }
  })

  /** Vertical grids for `vgridshift`, `+geoidgrids` and `deformation
    * +z_grids`: one offset channel. */
  def vgridSets(spec: String): List[List[Grid]] = gridSets(spec, 'v', p => {
    val bytes = Files.readAllBytes(p)
    val name = p.getFileName.toString
    sniff(p, bytes) match {
      case Format.Tiff => TiffGrids.loadV(name, bytes)
      case Format.Gtx => List(loadGtx(name, bytes))
      case _ => throw BadGrid(s"unrecognized vertical grid format: $p")
    }
  })

  /** Generic grids for the unified `gridshift` op (and `deformation`,
    * `xyzgridshift`, `defmodel` components): every channel. */
  def genericGridSets(spec: String): List[List[Grid]] =
    gridSets(spec, 'g', p => TiffGrids.loadGeneric(p.getFileName.toString, Files.readAllBytes(p)))

  /** NTv2 `.gsb` (reference: NTv2GridSet::open, grids.cpp:2184-2345;
    * NTv2Grid::valueAt, :2123-2177).  Header = 11 records of 16 bytes;
    * overview record 3 (offset 8+32) = NUM_FILE; each sub-grid header =
    * 11 records with S_LAT..LONG_INC at records 4-9 (arc-seconds,
    * longitude positive west) and GS_COUNT at record 10; data = 4 floats
    * per node (lat shift, lon shift, lat err, lon err) in arc-seconds,
    * rows south→north, columns east→west. */
  private def loadNtv2(fileName: String, bytes: Array[Byte]): List[Grid] = {
    if (bytes.length < 11 * 16) throw BadGrid(s"$fileName: truncated NTv2")
    // endianness: NUM_OREC value must be 11; detect which byte order makes it so
    val little = bytes(8) == 11
    val order = if (little) ByteOrder.LITTLE_ENDIAN else ByteOrder.BIG_ENDIAN
    val buf = ByteBuffer.wrap(bytes).order(order)
    val gsType = new String(bytes, 56, 7, "ISO-8859-1")
    if (gsType != "SECONDS") throw BadGrid(s"$fileName: GS_TYPE=$gsType unsupported")
    val numSub = buf.getInt(8 + 32)
    if (numSub <= 0 || numSub > 100000) throw BadGrid(s"$fileName: bad NUM_FILE")

    var off = 11 * 16
    val top = scala.collection.mutable.ListBuffer.empty[Grid]
    val byName = scala.collection.mutable.Map.empty[String, Grid]
    var sub = 0
    while (sub < numSub) {
      if (new String(bytes, off, 8, "ISO-8859-1") != "SUB_NAME")
        throw BadGrid(s"$fileName: bad sub-grid header")
      val gridName = new String(bytes, off + 8, 8, "ISO-8859-1")
      val parentName = new String(bytes, off + 24, 8, "ISO-8859-1")
      val sLat = buf.getDouble(off + 8 + 16 * 4)
      val nLat = buf.getDouble(off + 8 + 16 * 5)
      val eLon = buf.getDouble(off + 8 + 16 * 6)
      val wLon = buf.getDouble(off + 8 + 16 * 7)
      val latInc = buf.getDouble(off + 8 + 16 * 8)
      val lonInc = buf.getDouble(off + 8 + 16 * 9)
      val gsCount = buf.getInt(off + 8 + 16 * 10)
      val ext = GridExtent(
        west = -wLon * ArcSecToRad, south = sLat * ArcSecToRad,
        east = -eLon * ArcSecToRad, north = nLat * ArcSecToRad,
        resX = lonInc * ArcSecToRad, resY = latInc * ArcSecToRad)
      if (!(math.abs(ext.west) <= 4 * math.Pi && math.abs(ext.east) <= 4 * math.Pi &&
            ext.west < ext.east && ext.south < ext.north &&
            ext.resX > 1e-10 && ext.resY > 1e-10))
        throw BadGrid(s"$fileName: inconsistent georeferencing")
      val cols = (math.abs((ext.east - ext.west) / ext.resX) + 0.5).toInt + 1
      val rows = (math.abs((ext.north - ext.south) / ext.resY) + 0.5).toInt + 1
      if (gsCount != rows.toLong * cols) throw BadGrid(s"$fileName: GS_COUNT mismatch")
      off += 11 * 16

      val lon = new Array[Float](cols * rows)
      val lat = new Array[Float](cols * rows)
      var i = 0
      while (i < gsCount) {
        val y = i / cols
        val xEastToWest = i % cols
        val x = cols - 1 - xEastToWest // NTv2 rows run east to west
        val base = off + i * 16
        // records: lat shift, lon shift (arc-seconds, lon positive west)
        lat(y * cols + x) = (buf.getFloat(base) * ArcSecToRad).toFloat
        lon(y * cols + x) = (-buf.getFloat(base + 4) * ArcSecToRad).toFloat
        i += 1
      }
      off += gsCount * 16

      val g = new Grid(s"$fileName, $gridName", cols, rows, ext, Array(lon, lat),
        rawWestPositive = true)
      byName.get(parentName) match {
        case Some(parent) => parent.children = parent.children :+ g
        case None         => top += g
      }
      byName(gridName) = g
      sub += 1
    }
    top.toList
  }

  /** NTv1 (reference: NTv1Grid::open, grids.cpp:1840-1905): 192-byte
    * big-endian header with degree extents (longitude positive west),
    * data = big-endian double pairs (lat, lon shift in arc-seconds,
    * longitude positive west), rows south->north, columns east->west. */
  private def loadNtv1(fileName: String, bytes: Array[Byte]): Grid = {
    if (bytes.length < 192) throw BadGrid(s"$fileName: truncated NTv1")
    val buf = ByteBuffer.wrap(bytes).order(ByteOrder.BIG_ENDIAN)
    if (buf.getInt(8) != 12) throw BadGrid(s"$fileName: wrong NTv1 record count")
    val d2r = math.Pi / 180.0
    val ext = GridExtent(
      west = -buf.getDouble(72) * d2r, south = buf.getDouble(24) * d2r,
      east = -buf.getDouble(56) * d2r, north = buf.getDouble(40) * d2r,
      resX = buf.getDouble(104) * d2r, resY = buf.getDouble(88) * d2r)
    if (!(ext.west < ext.east && ext.south < ext.north &&
          ext.resX > 1e-10 && ext.resY > 1e-10))
      throw BadGrid(s"$fileName: inconsistent georeferencing")
    val cols = (math.abs((ext.east - ext.west) / ext.resX) + 0.5).toInt + 1
    val rows = (math.abs((ext.north - ext.south) / ext.resY) + 0.5).toInt + 1
    val lon = new Array[Float](cols * rows)
    val lat = new Array[Float](cols * rows)
    var y = 0
    while (y < rows) {
      var x = 0
      while (x < cols) {
        val off = 192 + 16 * (y * cols + (cols - 1 - x))
        lat(y * cols + x) = (buf.getDouble(off) * ArcSecToRad).toFloat
        lon(y * cols + x) = (-buf.getDouble(off + 8) * ArcSecToRad).toFloat
        x += 1
      }
      y += 1
    }
    new Grid(fileName, cols, rows, ext, Array(lon, lat), rawWestPositive = true)
  }

  /** CTable2 (reference: CTable2Grid::open, grids.cpp:1977-2030).  160-byte
    * header: magic, description, then 4 little-endian doubles at offset 96
    * (west, south, resX, resY — radians) and 2 int32 at 128 (width,
    * height); data = float pairs (lonShift, latShift) in radians, lon
    * positive west, row-major from the south-west corner. */
  private def loadCtable2(fileName: String, bytes: Array[Byte]): Grid = {
    if (bytes.length < 160) throw BadGrid(s"$fileName: truncated CTable2")
    val buf = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    val west = buf.getDouble(96)
    val south = buf.getDouble(104)
    val resX = buf.getDouble(112)
    val resY = buf.getDouble(120)
    val width = buf.getInt(128)
    val height = buf.getInt(132)
    if (width <= 0 || height <= 0 || resX <= 1e-10 || resY <= 1e-10)
      throw BadGrid(s"$fileName: bad CTable2 header")
    // reference quirk kept verbatim: CTable2Grid::open computes north
    // with resX, not resY (grids.cpp:2026) — matching it keeps grid
    // selection identical near the north edge when resX != resY
    val ext = GridExtent(west, south,
      west + (width - 1) * resX, south + (height - 1) * resX, resX, resY)
    val lon = new Array[Float](width * height)
    val lat = new Array[Float](width * height)
    var i = 0
    val n = width * height
    while (i < n) {
      lon(i) = -buf.getFloat(160 + 8 * i) // west-positive convention
      lat(i) = buf.getFloat(160 + 8 * i + 4)
      i += 1
    }
    new Grid(fileName, width, height, ext, Array(lon, lat), rawWestPositive = true)
  }

  /** GTX vertical grid (reference: GTXVerticalShiftGrid::open,
    * grids.cpp:246-316).  40-byte big-endian header: 4 doubles (south
    * origin, west origin, resY, resX — degrees) + 2 int32 (rows, cols);
    * data = big-endian float32 row-major from the south. */
  private def loadGtx(fileName: String, bytes: Array[Byte]): Grid = {
    if (bytes.length < 40) throw BadGrid(s"$fileName: truncated GTX")
    val buf = ByteBuffer.wrap(bytes).order(ByteOrder.BIG_ENDIAN)
    val yorigin = buf.getDouble(0)
    var xorigin = buf.getDouble(8)
    val ystep = buf.getDouble(16)
    val xstep = buf.getDouble(24)
    val rows = buf.getInt(32)
    val cols = buf.getInt(36)
    if (cols <= 0 || rows <= 0 || xorigin < -360 || xorigin > 360 ||
        yorigin < -90 || yorigin > 90)
      throw BadGrid(s"$fileName: invalid GTX extents")
    if (xorigin >= 180.0) xorigin -= 360.0 // 0-360 grids shifted back
    val d2r = math.Pi / 180.0
    val ext = GridExtent(
      west = xorigin * d2r, south = yorigin * d2r,
      east = (xorigin + xstep * (cols - 1)) * d2r,
      north = (yorigin + ystep * (rows - 1)) * d2r,
      resX = xstep * d2r, resY = ystep * d2r)
    val vals = new Array[Float](cols * rows)
    var i = 0
    val n = cols * rows
    while (i < n) { vals(i) = buf.getFloat(40 + 4 * i); i += 1 }
    new Grid(fileName, cols, rows, ext, Array(vals))
  }
}
