package graft.geo.proj

import java.nio.file.{Files, Path, Paths}
import graft.geo.grids.Grids
import graft.geo.kernels.PointKernel

/** Authority registry resolution (EPSG / ESRI / IGNF / NKG / PROJ codes)
  * from the reference's shipped database *source* scripts
  * (the `data/sql` INSERT scripts) — the same content the reference compiles into
  * `proj.db` and resolves through its SQLite factory
  * (/root/reference/src/iso19111/factory.cpp:6114 `createCoordinateReferenceSystem`).
  * This engine parses the INSERT scripts once per JVM (driver side, like
  * the grid registry) and composes proj-string definitions + candidate
  * datum bridges from the records:
  *
  *  - geodetic/projected CRS → a datum-free core proj-string (projection
  *    method + parameters, ellipsoid, prime meridian, axis/unit glue) in
  *    GIS axis order, with the authority axis order recorded for
  *    `authorityOrder` mode — conversion method/parameter mapping mirrors
  *    the reference's table
  *    (/root/reference/src/iso19111/operation/parammappings.cpp:592
  *    `gProjectionMethodMappings`);
  *  - helmert_transformation / grid_transformation / other_transformation
  *    records whose source or target is the WGS 84 hub → ranked
  *    [[OperationFactory.Bridge]] candidates with per-record accuracy and
  *    extent (usage→extent join), the data behind the reference's
  *    candidate planner (coordinateoperationfactory.cpp:596
  *    `createOperations`).
  *
  * Sexagesimal-DMS (EPSG uom 9110) parameter values are decoded from
  * their decimal *text* so D.MMSSsss digits survive exactly
  * (reference: `sexagesimal degree` handling, factory.cpp uom lookup).
  *
  * Codes outside the parsed tables return None; codes present but not
  * mappable (vertical/compound CRS, unmapped conversion methods,
  * non-degree geographic axes) raise [[ProjString.Unsupported]] with the
  * reason, which gie runners treat as a skip.
  */
object AuthorityDb {

  import ProjString.Unsupported

  /** data/sql search: GRAFT_AUTHORITY_SQL, else `<gridDir>/sql` for each
    * grid-search dir (the reference layout keeps `data/sql` next to the
    * grids). */
  private def sqlDirs: Seq[Path] = Grids.searchDirs.map(d => Paths.get(d, "sql"))

  lazy val sqlDir: Option[Path] =
    sys.env.get("GRAFT_AUTHORITY_SQL").map(Paths.get(_)).filter(Files.isDirectory(_))
      .orElse(sqlDirs.find(p => Files.isRegularFile(p.resolve("unit_of_measure.sql"))))

  def available: Boolean = sqlDir.isDefined

  private val wanted = Set(
    "unit_of_measure", "ellipsoid", "prime_meridian", "geodetic_datum",
    "geodetic_crs", "projected_crs", "conversion", "coordinate_system",
    "axis", "extent", "usage", "helmert_transformation",
    "grid_transformation", "other_transformation", "concatenated_operation",
    "concatenated_operation_step", "grid_alternatives",
    "vertical_crs", "compound_crs", "alias_name", "supersession")

  private def sqlMissing = ProjString.AssetMissing(
    "authority database scripts (data/sql) not found", "data/sql",
    (sys.env.get("GRAFT_AUTHORITY_SQL").toSeq ++ sqlDirs).map(_.toString))

  lazy val tables: Map[String, Vector[Array[String]]] =
    AuthoritySql.load(sqlDir.getOrElse(throw sqlMissing), wanted)

  /** The record `lookup` finds for `auth:code`, for a caller that cannot
    * do without it: [[ProjString.AssetMissing]] naming `data/sql` when the
    * database is absent, an [[Unsupported]] naming the code when it holds
    * no such record. */
  def required[A](auth: String, code: String)(lookup: (String, String) => Option[A]): A =
    lookup(auth, code).getOrElse {
      requireAvailable()
      throw Unsupported(s"authority code $auth:$code (not in the authority database)")
    }

  /** [[ProjString.AssetMissing]] naming `data/sql` when the database is
    * absent, for a caller about to report a lookup as "not found". */
  def requireAvailable(): Unit = if (!available) throw sqlMissing

  private def key(auth: String, code: String) = auth.toUpperCase + ":" + code

  private def index(table: String): Map[String, Array[String]] =
    tables.getOrElse(table, Vector.empty)
      .iterator.map(r => key(r(0), r(1)) -> r).toMap

  private lazy val uomRows = index("unit_of_measure")
  private lazy val ellipsoidRows = index("ellipsoid")
  private lazy val pmRows = index("prime_meridian")
  private lazy val datumRows = index("geodetic_datum")
  private lazy val geodCrsRows = index("geodetic_crs")
  private lazy val projCrsRows = index("projected_crs")
  private lazy val conversionRows = index("conversion")
  private lazy val csRows = index("coordinate_system")
  private lazy val extentRows = index("extent")
  private lazy val verticalCrs = index("vertical_crs")
  private lazy val compoundCrs = index("compound_crs")
  /** cs key → axes sorted by coordinate order: (name, abbrev, orientation, uomKey). */
  private lazy val axesByCs: Map[String, Vector[(String, String, String, String)]] =
    tables.getOrElse("axis", Vector.empty)
      .groupBy(r => key(r(5), r(6)))
      .view.mapValues(_.sortBy(r => r(7).toInt)
        .map(r => (r(2), r(3), r(4), if (r(8) == null) null else key(r(8), r(9)))).toVector)
      .toMap
  /** (object_table, object key) → extent keys from `usage`. */
  private lazy val usageExtents: Map[(String, String), Vector[String]] =
    tables.getOrElse("usage", Vector.empty)
      .groupBy(r => (r(2), key(r(3), r(4))))
      .view.mapValues(_.map(r => key(r(5), r(6))).toVector).toMap
  /** original grid name → (proj name, old proj name, inverse direction). */
  private lazy val gridAlternatives: Map[String, (String, String, Boolean)] =
    tables.getOrElse("grid_alternatives", Vector.empty)
      .iterator.map(r => r(0) -> (r(1), r(2), r(5) == "1")).toMap

  /** Operation records replaced by a newer record over the same CRS pair
    * (the registry's supersession table, same_source_target_crs = 1),
    * keyed superseded → replacement keys.  The factory drops a superseded
    * record from the candidates ONLY when its replacement actually landed
    * in the same lowered candidate set — a replacement with an unmapped
    * method or a missing grid must not erase a working (if stale) bridge
    * (data/sql/supersession.sql; behavior: coordinateoperationfactory
    * filterAndSort discards a superseded op only when the replacing op is
    * present among the candidates).  The reference resolves e.g.
    * Amersfoort→WGS84 to the LATEST realization, not the 1987
    * 3-parameter one. */
  private lazy val supersededBy: Map[String, Vector[String]] =
    tables.getOrElse("supersession", Vector.empty)
      .filter(r => r.length >= 8 && r(7) == "1")
      .groupBy(r => key(r(1), r(2)))
      .view.mapValues(_.map(r => key(r(4), r(5))).toVector).toMap

  /** Drop superseded entries whose replacement is itself a USABLE
    * candidate in the same set; keep them as fallback otherwise.
    * `usable` is probed only for keys actually named as replacements
    * (e.g. instantiating the bridge kernel, which surfaces missing
    * grids — a mere DbBridge presence is not enough, because grid-backed
    * records are only validated when the factory calls `kernel()`).
    * `replacedBy` is the supersession map (superseded key → replacement
    * keys, [[supersededBy]] for the registry).
    *
    * Never empties a non-empty set.  That happens only when every record
    * has a usable replacement among the others, i.e. through a
    * supersession cycle (A replaced by B and B by A): then the records of
    * the smallest key that some record names as a usable replacement
    * survive — a replacement is by the registry's own account the newer
    * realization.  On an acyclic map the rule is the plain drop. */
  private[graft] def dropSuperseded[A](items: Seq[A], replacedBy: Map[String, Seq[String]])
                                      (keyOf: A => String)(usable: A => Boolean): Seq[A] = {
    val byKey = items.groupBy(keyOf)
    def replacementOk(k: String) = byKey.get(k).exists(_.exists(usable))
    def replacements(a: A) = replacedBy.getOrElse(keyOf(a), Nil)
      .filter(r => r != keyOf(a) && replacementOk(r))
    val kept = items.filter(a => replacements(a).isEmpty)
    if (kept.nonEmpty || items.isEmpty) kept
    else {
      val survivor = items.flatMap(replacements).min
      items.filter(a => keyOf(a) == survivor)
    }
  }

  // ---------------------------------------------------------------- units

  private final val ArcSecPerRad = 3600.0 * 180.0 / math.Pi

  private def uomFactor(uomKey: String): Double = {
    val r = uomRows.getOrElse(uomKey, throw Unsupported(s"unknown uom $uomKey"))
    if (r(4) == null) throw Unsupported(s"uom $uomKey has no factor")
    r(4).toDouble
  }

  /** EPSG 9110 sexagesimal DMS decoded from decimal text: D.MMSSsss. */
  def sexagesimalDeg(raw: String): Double = {
    val neg = raw.startsWith("-")
    val t = raw.stripPrefix("-").stripPrefix("+")
    val dot = t.indexOf('.')
    val (dStr, frac0) = if (dot < 0) (t, "") else (t.take(dot), t.drop(dot + 1))
    val frac = if (frac0.length < 4) frac0.padTo(4, '0') else frac0
    val d = if (dStr.isEmpty) 0.0 else dStr.toDouble
    val mm = frac.take(2).toDouble
    val ss = frac.slice(2, 4).toDouble +
      (if (frac.length > 4) ("0." + frac.drop(4)).toDouble else 0.0)
    val v = d + mm / 60.0 + ss / 3600.0
    if (neg) -v else v
  }

  /** Angle parameter in degrees, exact for the common decimal units. */
  private def angleDeg(raw: String, uomKey: String): Double = uomKey match {
    case "EPSG:9110" => sexagesimalDeg(raw)
    case "EPSG:9102" | "EPSG:9122" => raw.toDouble // degree (+ supplier-order variant)
    case "EPSG:9105" => raw.toDouble * 0.9 // grad
    case "EPSG:9101" => math.toDegrees(raw.toDouble)
    case "EPSG:9104" => raw.toDouble / 3600.0 // arc-second
    case "EPSG:9103" => raw.toDouble / 60.0 // arc-minute
    case k => math.toDegrees(raw.toDouble * uomFactor(k))
  }

  /** CAUTION on "per year" units: the registry's conversion factors for
    * rate units (1027 mm/yr, 1032 mas/yr, 1041 ppm/yr, …) convert to
    * *per-SECOND* SI (e.g. 1032 → radians per second), but the helmert
    * kernel takes rates per YEAR — so rate units are converted
    * explicitly (mm→m, mas→arcsec, ppb→ppm) and never through the SI
    * factor. */
  private def angleArcSec(raw: String, uomKey: String): Double = uomKey match {
    case "EPSG:9104" => raw.toDouble
    case "EPSG:1031" => raw.toDouble / 1000.0 // milliarc-second
    case "EPSG:9109" => raw.toDouble * 1e-6 * ArcSecPerRad // microradian
    case "EPSG:1032" => raw.toDouble / 1000.0 // milliarc-seconds per year
    case "EPSG:1043" => raw.toDouble // arc-seconds per year
    case k => raw.toDouble * uomFactor(k) * ArcSecPerRad
  }

  private def lengthM(raw: String, uomKey: String): Double = uomKey match {
    case "EPSG:9001" => raw.toDouble
    case "EPSG:1027" => raw.toDouble / 1000.0 // millimetres per year
    case "EPSG:1034" => raw.toDouble / 100.0 // centimetres per year
    case "EPSG:1042" => raw.toDouble // metres per year
    case k => raw.toDouble * uomFactor(k)
  }

  private def scaleVal(raw: String, uomKey: String): Double = uomKey match {
    case "EPSG:9201" => raw.toDouble // unity
    case k => raw.toDouble * uomFactor(k)
  }

  private def scalePpm(raw: String, uomKey: String): Double = uomKey match {
    case "EPSG:9202" => raw.toDouble // parts per million
    case "EPSG:1028" => raw.toDouble / 1000.0 // parts per billion
    case "EPSG:1030" => raw.toDouble / 1000.0 // ppb per year
    case "EPSG:1041" => raw.toDouble // ppm per year
    case k => raw.toDouble * uomFactor(k) / 1e-6
  }

  // ------------------------------------------------------------ ellipsoid

  /** `+a=… +rf=…` / `+a=… +b=…` / `+R=…` tokens for an ellipsoid record
    * (semi-major uom honored; e.g. Clarke's-foot ellipsoids). */
  private def ellipsoidTokens(ellKey: String): String = {
    val r = ellipsoidRows.getOrElse(ellKey, throw Unsupported(s"unknown ellipsoid $ellKey"))
    val uom = key(r(7), r(8))
    val a = lengthM(r(6), uom)
    if (r(9) != null) s"+a=$a +rf=${r(9)}"
    else if (r(10) != null) s"+a=$a +b=${lengthM(r(10), uom)}"
    else s"+R=$a"
  }

  /** (ellipsoid tokens, pm longitude deg) for a geodetic datum (or datum
    * ensemble — same table, reference `geodetic_datum` ensemble rows). */
  private def datumParts(datumKey: String): (String, Double) = {
    val r = datumRows.getOrElse(datumKey, throw Unsupported(s"unknown datum $datumKey"))
    val ell = ellipsoidTokens(key(r(4), r(5)))
    val pmRow = pmRows.getOrElse(key(r(6), r(7)),
      throw Unsupported(s"unknown prime meridian ${key(r(6), r(7))}"))
    val pmDeg = angleDeg(pmRow(3), key(pmRow(4), pmRow(5)))
    (ell, pmDeg)
  }

  // ------------------------------------------------------------------ CRS

  /** A resolved authority CRS: `spec` is the datum-free core proj-string
    * in GIS axis order; `latFirst` records the authority order;
    * `geogKey` is the geodetic base (self for geographic/geocentric);
    * `datumId` keys same-datum short-circuiting. */
  final case class ResolvedCrs(auth: String, code: String, name: String,
                               kind: String, spec: String, latFirst: Boolean,
                               geogKey: String, datumId: String,
                               extent: Option[(Double, Double, Double, Double)],
                               deprecated: Boolean)

  private def extentOf(table: String, objKey: String): Option[(Double, Double, Double, Double)] = {
    val boxes = usageExtents.getOrElse((table, objKey), Vector.empty)
      .flatMap(extentRows.get)
      .flatMap { e =>
        if (e(4) == null || e(5) == null || e(6) == null || e(7) == null) None
        else {
          val (s, n, w, ee) = (e(4).toDouble, e(5).toDouble, e(6).toDouble, e(7).toDouble)
          // antimeridian-crossing extents (west > east) widen to full
          // longitude span — the planner only needs a containment window
          if (w > ee) Some((-180.0, s, 180.0, n)) else Some((w, s, ee, n))
        }
      }
    if (boxes.isEmpty) None
    else Some((boxes.map(_._1).min, boxes.map(_._2).min,
      boxes.map(_._3).max, boxes.map(_._4).max))
  }

  /** Axis glue for the first two axes of a coordinate system:
    * (latFirst, extra proj tokens).  Directions map to the proj `+axis`
    * letters in GIS (x,y) order; order itself is carried by `latFirst`
    * so the core stays GIS-ordered (`proj_normalize_for_visualization`
    * semantics, like the builtin table). */
  private def axisGlue(csKey: String, expectAngle: Boolean): (Boolean, String, String) = {
    val axes = axesByCs.getOrElse(csKey, throw Unsupported(s"unknown cs $csKey"))
    if (axes.size < 2) throw Unsupported(s"cs $csKey has ${axes.size} axes")
    def dirOf(ax: (String, String, String, String)): Char = {
      val d = ax._3.toLowerCase
      if (d == "east") 'e' else if (d == "west") 'w'
      else if (d == "north") 'n' else if (d == "south") 's'
      else if (d == "up") 'u' else if (d == "down") 'd'
      else if (d.contains("along")) {
        // polar CRS pseudo-directions ("South along 90°E"): classify by
        // the axis name/abbreviation (E/N, x/y)
        val nm = (ax._1 + " " + ax._2).toLowerCase
        if (nm.contains("east") || ax._2 == "E" || ax._2 == "X") 'e'
        else if (nm.contains("north") || ax._2 == "N" || ax._2 == "Y") 'n'
        else throw Unsupported(s"cs $csKey axis direction '${ax._3}'")
      } else throw Unsupported(s"cs $csKey axis direction '${ax._3}'")
    }
    val d1 = dirOf(axes(0)); val d2 = dirOf(axes(1))
    val latFirst = d1 == 'n' || d1 == 's'
    val (dx, dy) = if (latFirst) (d2, d1) else (d1, d2)
    if ((dx != 'e' && dx != 'w') || (dy != 'n' && dy != 's'))
      throw Unsupported(s"cs $csKey axis directions $d1/$d2")
    val axisTok = if (dx == 'e' && dy == 'n') "" else s"+axis=$dx${dy}u"
    // unit glue from the first axis uom
    val unitTok = axes(0)._4 match {
      case null => ""
      case u if expectAngle =>
        val f = uomFactor(u)
        if (math.abs(f - math.Pi / 180.0) < 1e-10 * f) ""
        else throw Unsupported(s"geographic cs $csKey in non-degree unit $u")
      case u =>
        val f = uomFactor(u)
        if (f == 1.0) "" else s"+to_meter=$f"
    }
    (latFirst, axisTok, unitTok)
  }

  // ------------------------------------------- conversion method mapping

  private final case class P(code: String, proj: String, kind: Char,
                             required: Boolean = false)

  private val natOrigin = Seq(P("8801", "lat_0", 'a'), P("8802", "lon_0", 'a'),
    P("8806", "x_0", 'l'), P("8807", "y_0", 'l'))
  private val natOriginScaleK = Seq(P("8801", "lat_0", 'a'), P("8802", "lon_0", 'a'),
    P("8805", "k", 's'), P("8806", "x_0", 'l'), P("8807", "y_0", 'l'))
  private val falseOrigin2SP = Seq(P("8821", "lat_0", 'a'), P("8822", "lon_0", 'a'),
    P("8823", "lat_1", 'a'), P("8824", "lat_2", 'a'),
    P("8826", "x_0", 'l'), P("8827", "y_0", 'l'))
  private val homParams = Seq(P("8811", "lat_0", 'a'), P("8812", "lonc", 'a'),
    P("8813", "alpha", 'a'), P("8814", "gamma", 'a'), P("8815", "k", 's'))

  /** EPSG conversion method code → (proj name, fixed extra tokens, param
    * mapping).  Mirrors `gProjectionMethodMappings`
    * (/root/reference/src/iso19111/operation/parammappings.cpp:592) for
    * the methods EPSG/ESRI projected CRS actually use. */
  private def methodMapping(mcode: String): Option[(String, String, Seq[P])] = mcode match {
    case "9807" | "1111" => Some(("tmerc", "", natOriginScaleK))
    // TMSO orientation comes from the cs axes (westing/southing → wsu)
    case "9808" => Some(("tmerc", "", natOriginScaleK))
    case "9801" => Some(("lcc", "", Seq(P("8801", "lat_1&lat_0", 'a'),
      P("8802", "lon_0", 'a'), P("8805", "k_0", 's'),
      P("8806", "x_0", 'l'), P("8807", "y_0", 'l'))))
    case "1102" => Some(("lcc", "", Seq(P("8801", "lat_1", 'a'), P("8805", "k_0", 's'),
      P("8821", "lat_0", 'a'), P("8822", "lon_0", 'a'),
      P("8826", "x_0", 'l'), P("8827", "y_0", 'l'))))
    // 9803 Belgium ≈ plain 2SP — the reference maps it the same way
    // (parammappings.cpp "FIXME: this is what is done in GDAL")
    case "9802" | "9803" => Some(("lcc", "", falseOrigin2SP))
    case "1051" => Some(("lcc", "", falseOrigin2SP :+ P("1038", "k_0", 's')))
    case "9822" => Some(("aea", "", falseOrigin2SP))
    case "1119" => Some(("eqdc", "", falseOrigin2SP))
    case "1125" | "9832" => Some(("aeqd", "", natOrigin))
    case "9831" => Some(("aeqd", "+guam", natOrigin))
    case "9806" => Some(("cass", "", natOrigin))
    case "9833" => Some(("cass", "+hyperbolic", natOrigin))
    case "9809" => Some(("sterea", "", natOriginScaleK))
    case "9810" => Some(("stere", "", natOriginScaleK))
    case "9829" => Some(("stere", "", Seq(P("8832", "lat_ts&polar_lat_0", 'a'),
      P("8833", "lon_0", 'a'), P("8806", "x_0", 'l'), P("8807", "y_0", 'l'))))
    case "9820" => Some(("laea", "", natOrigin))
    case "1027" => Some(("laea", "+R_A", natOrigin))
    case "9804" => Some(("merc", "", natOriginScaleK))
    case "9805" => Some(("merc", "", Seq(P("8823", "lat_ts", 'a'),
      P("8802", "lon_0", 'a'), P("8806", "x_0", 'l'), P("8807", "y_0", 'l'))))
    case "1026" => Some(("merc", "+R_C", natOrigin))
    case "1024" => Some(("webmerc", "", natOrigin))
    case "9815" => Some(("omerc", "",
      homParams ++ Seq(P("8816", "x_0", 'l'), P("8817", "y_0", 'l'))))
    case "9812" => Some(("omerc", "+no_uoff",
      homParams ++ Seq(P("8806", "x_0", 'l'), P("8807", "y_0", 'l'))))
    // 1130 Local Orthographic: ortho with the +alpha plane rotation and
    // projection-centre scale (parammappings.cpp paramsLocalOrthographic)
    case "1130" => Some(("ortho", "", Seq(P("8811", "lat_0", 'a'),
      P("8812", "lon_0", 'a'), P("8813", "alpha", 'a'), P("8815", "k", 's'),
      P("8816", "x_0", 'l'), P("8817", "y_0", 'l'))))
    case "9813" => Some(("labrd", "", Seq(P("8811", "lat_0", 'a'),
      P("8812", "lon_0", 'a'), P("8813", "azi", 'a'), P("8815", "k", 's'),
      P("8806", "x_0", 'l'), P("8807", "y_0", 'l'))))
    // krovak: colatitude (1036) and pseudo-std-parallel (8818) are fixed
    // in the kernel; scale 8819 → k (parammappings.cpp krovakParameters)
    case "9819" | "1041" => Some(("krovak", "", Seq(P("8811", "lat_0", 'a'),
      P("8833", "lon_0", 'a'), P("8819", "k", 's'),
      P("8806", "x_0", 'l'), P("8807", "y_0", 'l'))))
    case "1042" | "1043" => Some(("mod_krovak", "", Seq(P("8811", "lat_0", 'a'),
      P("8833", "lon_0", 'a'), P("8819", "k", 's'),
      P("8806", "x_0", 'l'), P("8807", "y_0", 'l'))))
    case "9818" => Some(("poly", "", natOrigin))
    case "9840" => Some(("ortho", "", natOriginScaleK))
    case "1078" => Some(("eqearth", "", Seq(P("8802", "lon_0", 'a'),
      P("8806", "x_0", 'l'), P("8807", "y_0", 'l'))))
    case "1052" => Some(("col_urban", "", natOrigin :+ P("1039", "h_0", 'l')))
    case "9835" => Some(("cea", "", Seq(P("8823", "lat_ts", 'a'),
      P("8802", "lon_0", 'a'), P("8806", "x_0", 'l'), P("8807", "y_0", 'l'))))
    case "9834" => Some(("cea", "+R_A", Seq(P("8823", "lat_ts", 'a'),
      P("8802", "lon_0", 'a'), P("8806", "x_0", 'l'), P("8807", "y_0", 'l'))))
    case "9827" | "9828" => Some(("bonne", "", Seq(P("8801", "lat_1", 'a'),
      P("8802", "lon_0", 'a'), P("8806", "x_0", 'l'), P("8807", "y_0", 'l'))))
    case "1028" | "1029" => Some(("eqc", "", Seq(P("8823", "lat_ts", 'a'),
      P("8801", "lat_0", 'a'), P("8802", "lon_0", 'a'),
      P("8806", "x_0", 'l'), P("8807", "y_0", 'l'))))
    case "9811" => Some(("nzmg", "", natOrigin))
    // IGNF's Gauss Laborde Réunion (data/sql/ignf.sql, method PROJ:gstm)
    case "gstm" => Some(("gstmerc", "", Seq(P("8801", "lat_0", 'a'),
      P("8802", "lon_0", 'a'), P("8805", "k_0", 's'),
      P("8806", "x_0", 'l'), P("8807", "y_0", 'l'))))
    // IAU planetary registry methods (data/sql/iau.sql, method auth PROJ)
    case "MOLLWEIDE" => Some(("moll", "", Seq(P("8802", "lon_0", 'a'),
      P("8806", "x_0", 'l'), P("8807", "y_0", 'l'))))
    case "ROBINSON" => Some(("robin", "", Seq(P("8802", "lon_0", 'a'),
      P("8806", "x_0", 'l'), P("8807", "y_0", 'l'))))
    case "SINUSOIDAL" => Some(("sinu", "", Seq(P("8802", "lon_0", 'a'),
      P("8806", "x_0", 'l'), P("8807", "y_0", 'l'))))
    case "9838" => Some(("nsper", "", Seq(P("8834", "lat_0", 'a'),
      P("8835", "lon_0", 'a'), P("8840", "h", 'l'),
      P("8806", "x_0", 'l'), P("8807", "y_0", 'l'))))
    case _ => None
  }

  /** Conversion record → projection proj-string fragment (no ellipsoid). */
  private def conversionTokens(convKey: String): String = {
    val r = conversionRows.getOrElse(convKey, throw Unsupported(s"unknown conversion $convKey"))
    val mcode = r(5)
    // PROJ-authority methods name a registry operation directly with no
    // parameters (IGNF Geoportail records, e.g. PROJ:mill) — passthrough
    if (r(4) == "PROJ" && mcode.matches("[a-z][a-z0-9_]*"))
      return s"+proj=$mcode"
    val (proj, extra, params) = methodMapping(mcode).getOrElse(
      throw Unsupported(s"conversion method ${r(4)}:$mcode (${r(6)}) not mapped"))
    // collect present parameters: groups of 6 from index 7
    val present = (0 until 7).flatMap { g =>
      val base = 7 + g * 6
      val code = r(base + 1)
      if (code == null) None
      else Some(code -> (r(base + 3), // raw value text
        if (r(base + 4) == null) null else key(r(base + 4), r(base + 5))))
    }.toMap
    var pairs = Vector.empty[(String, Double)]
    for (p <- params) {
      present.get(p.code).foreach { case (raw, uom) =>
        if (raw != null) {
          val v = p.kind match {
            case 'a' => angleDeg(raw, uom)
            case 'l' => lengthM(raw, uom)
            case 's' => scaleVal(raw, uom)
          }
          p.proj match {
            case "lat_1&lat_0" => pairs ++= Seq("lat_1" -> v, "lat_0" -> v)
            case "lat_ts&polar_lat_0" =>
              pairs ++= Seq("lat_ts" -> v, "lat_0" -> (if (v < 0) -90.0 else 90.0))
            case name => if (!(proj == "webmerc" && name == "lat_0"))
              pairs :+= (name -> v)
          }
        }
      }
    }
    def pv(n: String) = pairs.find(_._1 == n).map(_._2)
    // HOM with azimuth = rectified-to-skew = 90° is the Swiss Oblique
    // Mercator (reference conversion.cpp:3976-4010 maps both variants
    // to somerc): lonc→lon_0, k→k_0, alpha/gamma dropped
    val (projF, pairsF) =
      if (proj == "omerc" &&
          pv("alpha").exists(a => math.abs(a - 90) < 1e-4) &&
          pv("gamma").exists(g => math.abs(g - 90) < 1e-4)) {
        ("somerc", pairs.flatMap {
          case ("lonc", v) => Some("lon_0" -> v)
          case ("k", v) => Some("k_0" -> v)
          case ("alpha", _) | ("gamma", _) => None
          case kv => Some(kv)
        })
      } else (proj, pairs)
    val sb = new StringBuilder(s"+proj=$projF")
    if (projF == proj && extra.nonEmpty) sb.append(' ').append(extra)
    pairsF.foreach { case (n, v) => sb.append(s" +$n=$v") }
    // reference guard: TMSO export is only valid with zero false origin
    // (conversion.cpp:4075-4090); non-zero would need an offset step
    if (mcode == "9808" &&
        (present.get("8806").exists(v => v._1 != null && v._1.toDouble != 0) ||
         present.get("8807").exists(v => v._1 != null && v._1.toDouble != 0)))
      throw Unsupported("TM South Orientated with non-zero false origin")
    sb.toString
  }

  /** Resolve an authority CRS code to its core definition.  None = code
    * not in the parsed tables; Unsupported = present but unmappable. */
  def crs(auth: String, code: String): Option[ResolvedCrs] = {
    if (!available) return None
    val k = key(auth, code)
    geodCrsRows.get(k).map { r =>
      val kind = r(4)
      val (ell, pmDeg) = datumParts(key(r(7), r(8)))
      val pmTok = if (pmDeg == 0.0) "" else s" +pm=$pmDeg"
      kind match {
        case "geographic 2D" | "geographic 3D" =>
          val (latFirst, axisTok, _) = axisGlue(key(r(5), r(6)), expectAngle = true)
          val spec = (s"+proj=longlat $ell$pmTok " + axisTok).trim
          ResolvedCrs(auth, code, r(2), kind, spec, latFirst, k,
            s"${key(r(7), r(8))}", extentOf("geodetic_crs", k), r(10) == "1")
        case "geocentric" =>
          val spec = s"+proj=geocent $ell$pmTok"
          ResolvedCrs(auth, code, r(2), kind, spec, latFirst = false, k,
            s"${key(r(7), r(8))}", extentOf("geodetic_crs", k), r(10) == "1")
        case other => throw Unsupported(s"geodetic CRS type '$other' ($k)")
      }
    }.orElse(projCrsRows.get(k).map { r =>
      if (r(8) == null && r(10) != null) {
        // text-only definition (the ESRI registry ships WKT1 text for
        // some rows, e.g. ESRI:102100): delegate to the WKT front-end
        val w = try Wkt.parseCrs(r(10)) catch {
          case e: Wkt.BadWkt =>
            throw Unsupported(s"text definition of $k: ${e.getMessage}")
        }
        val geogKey = if (r(6) != null) key(r(6), r(7)) else k
        val datumId = geodCrsRows.get(geogKey).map(g => key(g(7), g(8)))
          .getOrElse(s"wkt:$k")
        ResolvedCrs(auth, code, r(2), "projected", w.projString, w.latFirst,
          geogKey, datumId,
          extentOf("projected_crs", k).orElse(extentOf("geodetic_crs", geogKey)),
          r(11) == "1")
      } else {
      if (r(6) == null || r(8) == null)
        throw Unsupported(s"projected CRS $k has a text-only definition")
      val geogKey = key(r(6), r(7))
      val geod = geodCrsRows.getOrElse(geogKey,
        throw Unsupported(s"unknown base geodetic CRS $geogKey"))
      val (ell, pmDeg) = datumParts(key(geod(7), geod(8)))
      val pmTok = if (pmDeg == 0.0) "" else s" +pm=$pmDeg"
      val conv = conversionTokens(key(r(8), r(9)))
      val (latFirst, axisTok, unitTok) = axisGlue(key(r(4), r(5)), expectAngle = false)
      val spec = (s"$conv $ell$pmTok $unitTok $axisTok").replaceAll("\\s+", " ").trim
      ResolvedCrs(auth, code, r(2), "projected", spec, latFirst, geogKey,
        s"${key(geod(7), geod(8))}",
        extentOf("projected_crs", k).orElse(extentOf("geodetic_crs", geogKey)),
        r(11) == "1")
      }
    }).orElse(compoundCrs.get(k).map { r =>
      // compound = horizontal CRS + gravity-related height: the vertical
      // part lowers to the engine's `+geoidgrids=` glue when a geoid
      // grid for the vertical CRS resolves (grid_transformation
      // Geographic3D→GravityRelatedHeight records via grid_alternatives;
      // reference: createOperations compound path,
      // coordinateoperationfactory.cpp + proj_api geoidgrids semantics)
      val horizKey = key(r(4), r(5))
      val vertKey = key(r(6), r(7))
      val horiz = crs(r(4), r(5)).getOrElse(
        throw Unsupported(s"compound $k: unknown horizontal $horizKey"))
      val grid = geoidGridFor(vertKey).getOrElse(
        throw Unsupported(s"compound $k: no geoid grid available for $vertKey"))
      horiz.copy(auth = auth, code = code, name = r(2), kind = "compound",
        spec = horiz.spec + s" +geoidgrids=$grid",
        extent = extentOf("compound_crs", k).orElse(horiz.extent),
        deprecated = r(8) == "1")
    }).orElse {
      if (verticalCrs.contains(k)) throw Unsupported(s"vertical CRS $k" +
        " (usable as the vertical member of a compound CRS)")
      else None
    }
  }

  /** The normalized `+proj=helmert …` step tokens of one
    * helmert_transformation record (m / arcsec / ppm, convention set) —
    * lets callers drive a single registry record directly (the
    * `proj_create_from_database` single-operation analogue). */
  def helmertStepTokens(auth: String, code: String): Option[String] =
    tables.getOrElse("helmert_transformation", Vector.empty)
      .find(r => r(0) == auth && r(1) == code).map(helmertStep)

  /** Ellipsoid tokens (`+a=… +rf=…`) of a geodetic CRS's datum. */
  def geodeticEllTokens(auth: String, code: String): Option[String] =
    try Some(ellOfGeod(key(auth, code)))
    catch { case _: Unsupported => None }

  /** First *available* geoid grid for a vertical CRS: grid_transformation
    * records whose target is the vertical CRS (Geographic3D→height
    * family), grid names mapped through grid_alternatives. */
  def geoidGridFor(vertKey: String): Option[String] = {
    val cands = tables.getOrElse("grid_transformation", Vector.empty)
      .filter(r => key(r(9), r(10)) == vertKey && r(r.length - 1) != "1" &&
        r(15) != null)
      .sortBy(r => Option(r(11)).map(_.toDouble).getOrElse(999.0))
    cands.iterator.flatMap { r =>
      val original = r(15)
      val names = gridAlternatives.get(original) match {
        case Some((nw, old, _)) => Seq(nw, old, original).filter(_ != null)
        case None => Seq(original)
      }
      names.find(n => try Grids.available(n) catch { case _: Exception => false })
    }.nextOption()
  }

  // ------------------------------------------------------ vertical CRS

  /** One vertical CRS's axis description: `toMeter` converts its height
    * values to metres, `up=false` marks a DEPTH axis (positive down).
    * From vertical_crs + its coordinate_system axis row
    * (data/sql/vertical_crs.sql; axis orientation/uom). */
  final case class VerticalInfo(auth: String, code: String, name: String,
                                datumKey: String, toMeter: Double,
                                up: Boolean, deprecated: Boolean)

  def verticalInfo(auth: String, code: String): Option[VerticalInfo] =
    verticalCrs.get(key(auth, code)).map { r =>
      val csKey = key(r(4), r(5))
      val axes = axesByCs.getOrElse(csKey,
        throw Unsupported(s"vertical cs $csKey has no axes"))
      if (axes.length != 1)
        throw Unsupported(s"vertical cs $csKey has ${axes.length} axes")
      val (_, _, orient, uomKey) = axes(0)
      val up = orient.toLowerCase match {
        case "up" => true
        case "down" => false
        case o => throw Unsupported(s"vertical axis direction '$o'")
      }
      VerticalInfo(r(0), r(1), r(2), key(r(6), r(7)),
        if (uomKey == null) 1.0 else uomFactor(uomKey), up, r(8) == "1")
    }

  /** One registry vertical-offset record lowered to kernel step tokens in
    * up-positive METRES (the record's own src→tgt direction).  EPSG
    * method 9616 (Vertical Offset) lowers to `geogoffset +dh` and 1046
    * (Vertical Offset and Slope) to the evaluation-point `vertoffset`
    * plane — the same lowering the reference's PROJ-string export uses
    * (/root/reference/src/iso19111/operation/singleoperation.cpp:4052-4226). */
  private final case class VertEdge(opKey: String, srcCrs: String,
                                    tgtCrs: String, acc: Double, step: String)

  private lazy val vertEdges: Vector[VertEdge] = dropSuperseded(
    tables.getOrElse("other_transformation", Vector.empty).flatMap { r =>
      val mCode = r(5)
      if (mCode != "9616" && mCode != "1046") None
      else if (r(r.length - 1) == "1") None // deprecated record
      else {
        val srcK = key(r(7), r(8)); val tgtK = key(r(9), r(10))
        if (!verticalCrs.contains(srcK) || !verticalCrs.contains(tgtK)) None
        else try {
          val ps = (1 to 9).flatMap { i =>
            val b = 12 + (i - 1) * 6
            if (r(b + 1) == null) None
            else Some(r(b + 1) -> (r(b + 3), key(r(b + 4), r(b + 5))))
          }.toMap
          val dh = ps.get("8603").map { case (v, u) => lengthM(v, u) }.getOrElse(0.0)
          val step =
            if (mCode == "9616") s"+proj=geogoffset +dh=$dh"
            else {
              // 8617/8618 evaluation point (often sexagesimal 9110),
              // 8730/8731 inclinations in arc-seconds
              def deg(c: String) = ps.get(c).map { case (v, u) => angleDeg(v, u) }.getOrElse(0.0)
              def arc(c: String) = ps.get(c).map { case (v, u) => angleArcSec(v, u) }.getOrElse(0.0)
              s"+proj=vertoffset +lat_0=${deg("8617")} +lon_0=${deg("8618")}" +
                s" +dh=$dh +slope_lat=${arc("8730")} +slope_lon=${arc("8731")} +ellps=WGS84"
            }
          val acc = Option(r(11)).flatMap(a =>
            try Some(a.toDouble) catch { case _: NumberFormatException => None })
            .getOrElse(999.0)
          Some(VertEdge(key(r(0), r(1)), srcK, tgtK, acc, step))
        } catch { case _: Unsupported => None }
      }
    }, supersededBy)(_.opKey)(_ => true).toVector // vert edges are grid-free: presence = usable

  /** vertical CRS key → its vertical datum key. */
  private lazy val vertDatumOf: Map[String, String] =
    verticalCrs.view.mapValues(r => key(r(6), r(7))).toMap

  /** Offset steps (up-metre space) from src vertical DATUM to tgt: best-
    * first search over the record graph — fewest hops, then lowest summed
    * accuracy — capped at 3 hops.  Datum-level nodes, because two CRS of
    * one datum differ only in axis unit/direction, which is end glue. */
  private def vertPath(srcD: String, tgtD: String): Option[Vector[String]] = {
    if (srcD == tgtD) return Some(Vector.empty)
    final case class Adj(tgt: String, acc: Double, step: String)
    val adj = scala.collection.mutable.Map.empty[String, Vector[Adj]]
      .withDefaultValue(Vector.empty)
    for (e <- vertEdges; sd <- vertDatumOf.get(e.srcCrs);
         td <- vertDatumOf.get(e.tgtCrs) if sd != td) {
      adj(sd) = adj(sd) :+ Adj(td, e.acc, s"+step ${e.step}")
      adj(td) = adj(td) :+ Adj(sd, e.acc, s"+step +inv ${e.step}")
    }
    // (hops, accSum) priority; deterministic tie-break on the step text
    val pq = scala.collection.mutable.PriorityQueue.empty[
      (Int, Double, String, Vector[String])](
      Ordering.by[(Int, Double, String, Vector[String]), (Int, Double, String)](
        t => (t._1, t._2, t._4.mkString(" "))).reverse)
    pq.enqueue((0, 0.0, srcD, Vector.empty))
    val settled = scala.collection.mutable.Set.empty[String]
    while (pq.nonEmpty) {
      val (hops, acc, node, steps) = pq.dequeue()
      if (node == tgtD) return Some(steps)
      if (!settled.contains(node) && hops < 3) {
        settled += node
        for (a <- adj(node) if !settled.contains(a.tgt))
          pq.enqueue((hops + 1, acc + a.acc, a.tgt, steps :+ a.step))
      }
    }
    None
  }

  /** src→tgt vertical CRS operation as a proj pipeline string: axis
    * unit/direction glue on both ends around the registry vertical-offset
    * path in up-positive metres — the grid-free vertical branch of the
    * reference factory (coordinateoperationfactory.cpp:563-664) over the
    * same 9616/1046 records its database carries.  Works on (lon, lat,
    * z) triples: lon/lat pass through (1046's slope plane reads them). */
  def verticalOperationString(srcAuth: String, srcCode: String,
                              tgtAuth: String, tgtCode: String): String = {
    val s = verticalInfo(srcAuth, srcCode).getOrElse(
      throw Unsupported(s"not a vertical CRS: $srcAuth:$srcCode"))
    val t = verticalInfo(tgtAuth, tgtCode).getOrElse(
      throw Unsupported(s"not a vertical CRS: $tgtAuth:$tgtCode"))
    val steps = vertPath(s.datumKey, t.datumKey).getOrElse(
      throw Unsupported(
        s"no vertical-offset path '${s.name}' -> '${t.name}'" +
          " (no 9616/1046 record chain within 3 hops)"))
    // the slope plane (1046 → vertoffset) reads lon/lat in RADIANS; wrap
    // with the deg<->rad xy glue only then — geogoffset with zero
    // dlat/dlon never touches x/y, and an unconditional deg→rad→deg
    // round-trip would put 1-ulp noise on the passthrough lon/lat
    val needsLatLon = steps.exists(_.contains("vertoffset"))
    val pre = Vector(
      if (needsLatLon)
        Some("+step +proj=unitconvert +xy_in=deg +xy_out=rad") else None,
      if (s.toMeter != 1.0)
        Some(s"+step +proj=unitconvert +z_in=${s.toMeter} +z_out=1") else None,
      if (!s.up) Some("+step +proj=affine +s33=-1") else None).flatten
    val post = Vector(
      if (!t.up) Some("+step +proj=affine +s33=-1") else None,
      if (t.toMeter != 1.0)
        Some(s"+step +proj=unitconvert +z_in=1 +z_out=${t.toMeter}") else None,
      if (needsLatLon)
        Some("+step +proj=unitconvert +xy_in=rad +xy_out=deg") else None).flatten
    val all = pre ++ steps ++ post
    if (all.isEmpty) "+proj=noop"
    else s"+proj=pipeline ${all.mkString(" ")}"
  }

  /** One row of [[unresolvedProjected]] — the auditable expected-fail
    * table for registry coverage. */
  final case class UnresolvedCrs(auth: String, code: String, name: String,
                                 methodKey: String, methodName: String,
                                 reason: String)

  /** Every non-deprecated projected CRS that does NOT resolve, with its
    * failure reason, tagged with the conversion method key/name when one
    * exists.  This is the audit behind the sweep assertions: exclusions
    * are an explicit, pinnable list, not a silent percentage. */
  def unresolvedProjected(): Seq[UnresolvedCrs] =
    tables.getOrElse("projected_crs", Vector.empty)
      .filter(r => r(11) != "1")
      .flatMap { r =>
        val (auth, code) = (r(0), r(1))
        def method: (String, String) =
          (for {
            ca <- Option(r(8)); cc <- Option(r(9))
            c <- conversionRows.get(key(ca, cc))
          } yield (key(c(4), c(5)), if (c(6) == null) "" else c(6)))
            .getOrElse(("", ""))
        try {
          crs(auth, code) match {
            case Some(_) => None
            case None =>
              val (mk, mn) = method
              Some(UnresolvedCrs(auth, code, r(2), mk, mn, "no record path"))
          }
        } catch {
          case u: Unsupported =>
            val (mk, mn) = method
            Some(UnresolvedCrs(auth, code, r(2), mk, mn, u.getMessage.take(100)))
          case _: ProjString.BadProjString =>
            val (mk, mn) = method
            Some(UnresolvedCrs(auth, code, r(2), mk, mn, "definition parse failure"))
        }
      }

  // ---------------------------------------------- catalog introspection

  /** One catalog row of [[crsInfoList]] — the `proj_get_crs_info_list`
    * analogue (reference: src/iso19111/c_api.cpp CRS listing API). */
  final case class CrsInfo(auth: String, code: String, name: String,
                           kind: String, deprecated: Boolean,
                           west: Option[Double], south: Option[Double],
                           east: Option[Double], north: Option[Double])

  /** The registry catalog as data: one row per CRS record across the
    * geodetic / projected / vertical / compound tables, with its type,
    * usage extent and deprecation flag.  Driver-side by design (the
    * registry is driver state, ~18k rows); callers `.toDF()` it to join
    * against engine tables or expose discovery UX. */
  def crsInfoList(): Seq[CrsInfo] = {
    val out = Vector.newBuilder[CrsInfo]
    def add(table: String, r: Array[String], kind: String, depIdx: Int): Unit = {
      val b = extentOf(table, key(r(0), r(1)))
      out += CrsInfo(r(0), r(1), r(2), kind, r(depIdx) == "1",
        b.map(_._1), b.map(_._2), b.map(_._3), b.map(_._4))
    }
    for (r <- tables.getOrElse("geodetic_crs", Vector.empty))
      add("geodetic_crs", r, r(4), 10) // type: geographic 2D/3D/geocentric
    for (r <- tables.getOrElse("projected_crs", Vector.empty))
      add("projected_crs", r, "projected", 11)
    for (r <- tables.getOrElse("vertical_crs", Vector.empty))
      add("vertical_crs", r, "vertical", 8)
    for (r <- tables.getOrElse("compound_crs", Vector.empty))
      add("compound_crs", r, "compound", 8)
    out.result()
  }

  /** One representative resolvable projected CRS per conversion *method*
    * (lowest code wins — deterministic), paired with an in-extent probe
    * point.  Drives the q_authority_sweep driver query: every mapped
    * method family executes through the Catalyst expression path. */
  def representatives(): Seq[(String, ResolvedCrs, (Double, Double))] = {
    val byMethod = scala.collection.mutable.Map.empty[String, (String, ResolvedCrs, (Double, Double))]
    val rows = tables.getOrElse("projected_crs", Vector.empty)
      .filter(r => r(11) != "1" && r(8) != null)
      .sortBy(r => (r(0), r(1).length, r(1))) // numeric-ish order, EPSG first
    for (r <- rows) {
      val conv = conversionRows.get(key(r(8), r(9)))
      val m = conv.map(c => s"${c(4)}:${c(5)}").getOrElse("?")
      if (!byMethod.contains(m)) {
        try {
          crs(r(0), r(1)).foreach { rc =>
            val (w, s, e, n) = rc.extent.getOrElse((-60.0, -30.0, 60.0, 45.0))
            // off-center so world-spanning CRS don't probe the trivial
            // (0,0) origin (checksum 0 would sweep vacuously)
            val probe = (w + (e - w) * 0.37, s + (n - s) * 0.41)
            val k = ProjString.parse(rc.spec)
            val v = Array(math.toRadians(probe._1), math.toRadians(probe._2), 0.0, 0.0)
            if (k.fwd(v) && !v(0).isNaN && !v(1).isNaN &&
                math.abs(v(0)) < 1e12 && math.abs(v(1)) < 1e12)
              byMethod(m) = (m, rc, probe)
          }
        } catch { case _: Unsupported | _: ProjString.BadProjString => }
      }
    }
    byMethod.values.toSeq.sortBy(_._1)
  }

  private def normName(s: String): String =
    s.trim.toLowerCase.replaceAll("\\s+", " ")

  /** CRS name → candidate (auth, code, deprecated, isAlias) rows, over
    * geodetic_crs + projected_crs names and the registry's alias table
    * (`alias_name`) — the lookup behind name-based
    * `createFromUserInput` (reference io.cpp:8219 `searchCRS`: exact
    * match, unique result required). */
  private lazy val nameIndex: Map[String, Vector[(String, String, Boolean, Int)]] = {
    val b = scala.collection.mutable.Map
      .empty[String, Vector[(String, String, Boolean, Int)]]
    def add(name: String, auth: String, code: String,
            deprecated: Boolean, rank: Int): Unit = {
      val k = normName(name)
      if (k.nonEmpty)
        b(k) = b.getOrElse(k, Vector.empty) :+ ((auth, code, deprecated, rank))
    }
    // kind rank breaks the "WGS 84" three-way tie the way the reference
    // resolves it: geographic 2D, then projected, then geographic 3D,
    // then geocentric; aliases come after all direct names
    tables.getOrElse("geodetic_crs", Vector.empty).foreach { r =>
      val rank = r(4) match {
        case "geographic 2D" => 0
        case "geographic 3D" => 2
        case _ => 3
      }
      add(r(2), r(0), r(1), r(10) == "1", rank)
    }
    tables.getOrElse("projected_crs", Vector.empty)
      .foreach(r => add(r(2), r(0), r(1), r(11) == "1", 1))
    tables.getOrElse("compound_crs", Vector.empty)
      .foreach(r => add(r(2), r(0), r(1), r(8) == "1", 5))
    tables.getOrElse("alias_name", Vector.empty)
      .filter(r => r(0) == "geodetic_crs" || r(0) == "projected_crs")
      .foreach(r => add(r(3), r(1), r(2), deprecated = false, 9))
    b.toMap
  }

  /** Resolve a CRS by NAME (exact, case/whitespace-insensitive; alias
    * table included).  Preference on multiple hits: direct name over
    * alias, non-deprecated over deprecated, EPSG over other
    * authorities; a tie that survives all three raises a typed
    * "several objects matching this name" error like the reference's
    * createFromUserInput. */
  def findByName(name: String): Option[(String, String)] = {
    if (!available) return None
    val hits = nameIndex.getOrElse(normName(name), return None)
    def sortKey(h: (String, String, Boolean, Int)) =
      (h._4, h._3, if (h._1 == "EPSG") 0 else 1)
    val ranked = hits.sortBy(sortKey)
    val best = ranked.head
    val ties = ranked.takeWhile(h => sortKey(h) == sortKey(best))
      .map(t => (t._1, t._2)).distinct
    if (ties.size > 1)
      throw Unsupported("several objects matching this name: " +
        ties.take(5).map { case (a, c) => s"$a:$c" }.mkString(", "))
    Some((best._1, best._2))
  }

  /** Every non-deprecated projected CRS that resolves, as
    * (auth:code, core spec) — resolved once and cached (the
    * identification index and registry-wide sweeps build on this). */
  lazy val allProjected: Vector[(String, String)] =
    if (!available) Vector.empty
    else tables.getOrElse("projected_crs", Vector.empty)
      .filter(r => r(11) != "1")
      .flatMap { r =>
        try crs(r(0), r(1)).map(rc => (key(r(0), r(1)), rc.spec))
        catch { case _: Unsupported | _: ProjString.BadProjString => None }
      }

  // ------------------------------------------------------ datum bridges

  /** One database-derived datum bridge candidate: `kernel` maps
    * datum-local geographic radians → WGS 84 radians. */
  final case class DbBridge(opKey: String, name: String, kernel: () => PointKernel,
                            accuracy: Double,
                            bbox: (Double, Double, Double, Double),
                            gridName: Option[String])

  /** Geodetic CRS keys of the WGS 84 hub: every geodetic CRS on datum
    * (ensemble) EPSG:6326 — geographic 2D/3D and geocentric alike. */
  private lazy val hubKeys: Set[String] =
    tables.getOrElse("geodetic_crs", Vector.empty)
      .filter(r => key(r(7), r(8)) == "EPSG:6326")
      .map(r => key(r(0), r(1))).toSet

  private val World = (-180.0, -90.0, 180.0, 90.0)

  /** Helmert-family record → `+proj=helmert` / `+proj=molobadekas` step
    * tokens (position-vector/coordinate-frame + optional rates/pivot),
    * units normalized to m / arcsec / ppm as the kernels expect. */
  private def helmertStep(r: Array[String]): String = {
    val m = r(5)
    val convention = m match {
      case "9606" | "1033" | "1037" | "1054" | "1053" | "1055" |
           "1061" | "1062" | "1063" => "position_vector"
      case "9607" | "1032" | "1038" | "1057" | "1056" | "1058" |
           "9636" | "1034" | "1039" => "coordinate_frame"
      case "9603" | "1031" | "1035" => "" // translations only
      case other => throw Unsupported(s"helmert method EPSG:$other")
    }
    val molobadekas = Set("9636", "1034", "1039", "1061", "1062", "1063").contains(m)
    val tUom = key(r(15), r(16))
    val sb = new StringBuilder(if (molobadekas) "+proj=molobadekas" else "+proj=helmert")
    sb.append(s" +x=${lengthM(r(12), tUom)} +y=${lengthM(r(13), tUom)}" +
      s" +z=${lengthM(r(14), tUom)}")
    if (r(17) != null) {
      val rUom = key(r(20), r(21))
      sb.append(s" +rx=${angleArcSec(r(17), rUom)} +ry=${angleArcSec(r(18), rUom)}" +
        s" +rz=${angleArcSec(r(19), rUom)}")
    }
    if (r(22) != null)
      sb.append(s" +s=${scalePpm(r(22), key(r(23), r(24)))}")
    if (r(25) != null) {
      val dtUom = key(r(28), r(29))
      sb.append(s" +dx=${lengthM(r(25), dtUom)} +dy=${lengthM(r(26), dtUom)}" +
        s" +dz=${lengthM(r(27), dtUom)}")
    }
    if (r(30) != null) {
      val drUom = key(r(33), r(34))
      sb.append(s" +drx=${angleArcSec(r(30), drUom)} +dry=${angleArcSec(r(31), drUom)}" +
        s" +drz=${angleArcSec(r(32), drUom)}")
    }
    if (r(35) != null)
      sb.append(s" +ds=${scalePpm(r(35), key(r(36), r(37)))}")
    if (r(38) != null) sb.append(s" +t_epoch=${r(38)}")
    if (molobadekas) {
      val pUom = key(r(44), r(45))
      sb.append(s" +px=${lengthM(r(41), pUom)} +py=${lengthM(r(42), pUom)}" +
        s" +pz=${lengthM(r(43), pUom)}")
    }
    if (convention.nonEmpty) sb.append(s" +convention=$convention")
    sb.toString
  }

  /** Ellipsoid tokens of a geodetic CRS (via its datum). */
  private def ellOfGeod(crsKey: String): String = {
    val g = geodCrsRows.getOrElse(crsKey, throw Unsupported(s"unknown geodetic CRS $crsKey"))
    val d = datumRows.getOrElse(key(g(7), g(8)), throw Unsupported(s"unknown datum"))
    ellipsoidTokens(key(d(4), d(5)))
  }

  /** All candidate bridges for a geodetic base CRS: direct
    * helmert/grid/other records to or from the WGS 84 hub, each with its
    * usage extent and accuracy.  Pipelines are built in the record's own
    * src→tgt direction (with each side's ellipsoid) and inverted when the
    * record points hub→local, so the returned kernel is always
    * local radians → WGS 84 radians. */
  /** Prime-meridian longitude (deg) of a geodetic CRS's datum. */
  private def pmOfGeod(crsKey: String): Double = {
    val g = geodCrsRows.getOrElse(crsKey, return 0.0)
    datumParts(key(g(7), g(8)))._2
  }

  /** Record-direction (src→tgt) kernel for one transformation record.
    * Returns the lazy kernel plus the grid name when grid-backed.
    * Throws [[Unsupported]] for unmapped methods / unavailable grids. */
  private def recordKernel(table: String, r: Array[String]): (() => PointKernel, Option[String]) = {
    val srcK = key(r(7), r(8)); val tgtK = key(r(9), r(10))
    table match {
      case "helmert_transformation" =>
        val st = helmertStep(r)
        val se = ellOfGeod(srcK); val te = ellOfGeod(tgtK)
        (() => ProjString.parse(
          s"+proj=pipeline +step +proj=cart $se +step $st" +
            s" +step +inv +proj=cart $te"), None)
      case "grid_transformation" =>
        val m = r(5)
        if (m != "9615" && m != "9613")
          throw Unsupported(s"grid method EPSG:$m")
        val original = r(15)
        val (names, gridInverse) = gridNameCandidates(original)
        val avail = names.find(n => try Grids.available(n) catch { case _: Exception => false })
        avail match {
          case Some(n) =>
            val mk = () => {
              val k = ProjString.parse(s"+proj=hgridshift +grids=$n")
              if (gridInverse) graft.geo.kernels.InverseKernel(k): PointKernel else k
            }
            (mk, Some(n))
          case None => throw Unsupported(s"grid(s) ${names.mkString("/")} unavailable")
        }
      case "other_transformation" =>
        val (mAuth, mCode) = (r(4), r(5))
        def params: Map[String, (String, String)] = (1 to 9).flatMap { i =>
          val b = 12 + (i - 1) * 6
          if (r(b + 1) == null) None
          else Some(r(b + 1) -> (r(b + 3), key(r(b + 4), r(b + 5))))
        }.toMap
        if (mAuth == "PROJ" && mCode == "PROJString") {
          // method_name holds the proj text (e.g. data/sql/nkg.sql:160)
          val txt = r(6)
          (() => ProjString.parse(txt), None)
        } else if (mCode == "9604" || mCode == "9605") {
          // (Abridged) Molodensky: params 8605-8607 tx/ty/tz, 8654 da, 8655 df
          val ps = params
          val se = ellOfGeod(srcK)
          def len(c: String) = ps.get(c).map { case (v, u) => lengthM(v, u) }.getOrElse(0.0)
          val df = ps.get("8655").map { case (v, u) => scaleVal(v, u) }.getOrElse(0.0)
          val ab = if (mCode == "9605") " +abridged" else ""
          val st = s"+proj=molodensky $se +dx=${len("8605")} +dy=${len("8606")}" +
            s" +dz=${len("8607")} +da=${len("8654")} +df=$df$ab"
          (() => ProjString.parse(st), None)
        } else if (mCode == "9601" || mCode == "9619" || mCode == "9660") {
          // Longitude rotation / Geographic 2D & 3D offsets: arc-second
          // offsets at the geographic level (params 8601/8602/8606 lat,
          // lon, height) — the reference's geogoffset mapping
          val ps = params
          def arc(c: String) = ps.get(c).map { case (v, u) => angleArcSec(v, u) }.getOrElse(0.0)
          // 8603 vertical offset / 8604 geoid undulation (geog3D)
          val dh = ps.get("8603").map { case (v, u) => lengthM(v, u) }
            .orElse(ps.get("8604").map { case (v, u) => lengthM(v, u) }).getOrElse(0.0)
          val st = s"+proj=geogoffset +dlat=${arc("8601")} +dlon=${arc("8602")} +dh=$dh"
          (() => ProjString.parse(st), None)
        } else throw Unsupported(s"other_transformation method $mAuth:$mCode")
      case other => throw Unsupported(s"step into table $other")
    }
  }

  /** Candidate physical grid names for a registry grid name (the
    * grid_alternatives remap: CDN name, old PROJ name, original) plus the
    * inverse-direction flag. */
  private def gridNameCandidates(original: String): (Seq[String], Boolean) =
    gridAlternatives.get(original) match {
      case Some((nw, old, flip)) => (Seq(nw, old, original).filter(_ != null), flip)
      case None => (Seq(original), false)
    }

  /** First resolvable physical grid for a registry grid name, if any. */
  def availableGrid(original: String): Option[String] =
    gridNameCandidates(original)._1
      .find(n => try Grids.available(n) catch { case _: Exception => false })

  // -------------------------------------------------------- point motion

  /** A registry point-motion operation: an operation whose source and
    * target CRS are the SAME (the coordinates move, not the frame) —
    * the reference's PointMotionOperation, detected like the reference
    * does by the method name prefix (factory.cpp:6741 "A bit fragile to
    * detect the operation type with the method name").  `crsKey` is that
    * CRS; `gridName` the velocity grid (param 1050, or 1072 for the
    * Gravsoft NEU trio). */
  final case class PointMotionOp(opKey: String, name: String, crsKey: String,
                                 crsKind: String, methodCode: String,
                                 gridName: String, accuracy: Double)

  /** Point-motion operations applicable to `geogKey`'s DATUM — the
    * reference's AuthorityFactory::getPointMotionOperationsFor
    * (/root/reference/src/iso19111/factory.cpp:10550): records over any
    * geodetic CRS sharing the datum, source == target, non-deprecated,
    * superseded ones dropped only when their replacement also lowers. */
  def pointMotionOps(geogKey: String): Seq[PointMotionOp] = {
    if (!available) return Nil
    val datum = geodCrsRows.get(geogKey).map(g => key(g(7), g(8)))
      .getOrElse(return Nil)
    val out = Seq.newBuilder[PointMotionOp]
    for (t <- Seq("grid_transformation", "other_transformation");
         r <- tables.getOrElse(t, Vector.empty)) {
      val srcK = key(r(7), r(8)); val tgtK = key(r(9), r(10))
      if (srcK == tgtK && r(r.length - 1) != "1" && r(6) != null &&
          r(6).startsWith("Point motion") &&
          geodCrsRows.get(srcK).exists(g => key(g(7), g(8)) == datum)) {
        val grid =
          if (t == "grid_transformation") r(15)
          else (1 to 9).iterator.map(i => 12 + (i - 1) * 6)
            .find(b => r(b + 1) == "1050" || r(b + 1) == "1072")
            .map(b => r(b + 3)).orNull
        if (grid != null) {
          val acc = Option(r(11)).flatMap(_.toDoubleOption).getOrElse(999.0)
          out += PointMotionOp(key(r(0), r(1)), r(2), srcK,
            geodCrsRows(srcK)(4), r(5), grid, acc)
        }
      }
    }
    dropSuperseded(out.result(), supersededBy)(_.opKey)(op =>
      availableGrid(op.gridName).isDefined).sortBy(_.accuracy).toSeq
  }

  /** Round an epoch the way the reference does before formatting
    * (internal.cpp:402 getRoundedEpochInDecimalYear). */
  private def roundedEpoch(year: Double): Double =
    if (math.abs(1000 * year - math.round(1000 * year)) <= 1e-3)
      math.round(1000 * year) / 1000.0
    else year

  /** Lower a point-motion operation to an epoch-shift kernel for
    * `srcEpoch` → `tgtEpoch` (decimal years), degrees→degrees for a
    * geographic frame / metres XYZ for a geocentric one — the reference's
    * PointMotionOperation::_exportToPROJString
    * (/root/reference/src/iso19111/operation/singleoperation.cpp:5684):
    * inverse CRS to geocentric via `cart`, `set v_4=srcYear omit_fwd`,
    * `deformation dt=(tgt−src)` on the velocity grid, `set v_4=tgtYear
    * omit_inv`, back out.  Only the NTv2_Vel/Gravsoft velocity-grid
    * methods (EPSG 1070/1141/1139) lower, as in the reference; others —
    * including the NZ deformation-model method 1079 — are typed
    * Unsupported there too. */
  def pointMotionKernel(op: PointMotionOp, srcEpoch: Double,
                        tgtEpoch: Double): PointKernel = {
    if (op.methodCode != "1070" && op.methodCode != "1141" &&
        op.methodCode != "1139")
      throw Unsupported(
        s"point-motion method EPSG:${op.methodCode} (${op.opKey}) has no" +
          " PROJ lowering in the reference either")
    val grid = availableGrid(op.gridName).getOrElse(
      throw Unsupported(s"point-motion velocity grid ${op.gridName}" +
        s" (${op.opKey}) unavailable"))
    val ell = ellOfGeod(op.crsKey)
    val s = roundedEpoch(srcEpoch); val t = roundedEpoch(tgtEpoch)
    val motion =
      s"+step +proj=set +v_4=$s +omit_fwd" +
        s" +step +proj=deformation +dt=${t - s} +grids=$grid $ell" +
        s" +step +proj=set +v_4=$t +omit_inv"
    val text =
      if (op.crsKind == "geocentric") s"+proj=pipeline $motion"
      else
        s"+proj=pipeline +step +proj=unitconvert +xy_in=deg +xy_out=rad" +
          s" +step +proj=cart $ell $motion" +
          s" +step +inv +proj=cart $ell" +
          s" +step +proj=unitconvert +xy_in=rad +xy_out=deg"
    ProjString.parse(text)
  }

  /** (table, row) for every transformation record, keyed by auth:code —
    * the step-resolution index for concatenated operations. */
  private lazy val opIndex: Map[String, (String, Array[String])] = {
    val m = scala.collection.mutable.Map.empty[String, (String, Array[String])]
    for (t <- Seq("helmert_transformation", "grid_transformation", "other_transformation");
         r <- tables.getOrElse(t, Vector.empty))
      m(key(r(0), r(1))) = (t, r)
    m.toMap
  }

  /** steps of each concatenated operation, ordered. */
  private lazy val concatSteps: Map[String, Vector[(String, String)]] =
    tables.getOrElse("concatenated_operation_step", Vector.empty)
      .groupBy(r => key(r(0), r(1)))
      .view.mapValues(_.sortBy(_(2).toInt).map(r => (key(r(3), r(4)), r(5))).toVector)
      .toMap

  def bridges(geogKey: String): Seq[DbBridge] = {
    if (!available) return Nil
    val geod = geodCrsRows.get(geogKey)
    val out = Seq.newBuilder[DbBridge]
    // operations are scoped to the CRS's own authority (plus the PROJ
    // supplements) — the reference's factory does not mix e.g. ESRI's
    // regional DHDN helmerts into an EPSG-pair lookup
    val crsAuth = geogKey.takeWhile(_ != ':')
    def authOk(recAuth: String): Boolean =
      recAuth == crsAuth || recAuth == "PROJ"

    // the hub itself (WGS 84 datum ensemble): exact null bridge
    if (geod.exists(g => key(g(7), g(8)) == "EPSG:6326"))
      out += DbBridge("null:wgs84", "WGS 84 (null)",
        () => graft.geo.kernels.NoopKernel, 0.0, World, None)

    def emit(table: String, r: Array[String],
             mk: => (() => PointKernel, Option[String])): Unit = {
      val srcK = key(r(7), r(8)); val tgtK = key(r(9), r(10))
      val fwd = srcK == geogKey && hubKeys.contains(tgtK)
      val inv = tgtK == geogKey && hubKeys.contains(srcK)
      // records between prime-meridian-relative CRS (Ferro, Paris …)
      // operate on pm-local longitudes; our bridges run post-core on
      // Greenwich radians, so the rotation would double-apply — those
      // CRS keep the classic +pm/+towgs84 path instead
      if ((fwd || inv) && r(r.length - 1) != "1" && authOk(r(0)) &&
          pmOfGeod(srcK) == 0.0 && pmOfGeod(tgtK) == 0.0) {
        try {
          val (k0, grid) = mk
          val kernel: () => PointKernel =
            if (fwd) k0 else () => graft.geo.kernels.InverseKernel(k0())
          val acc = if (r(11) == null) 999.0 else r(11).toDouble
          val box = extentOf(table, key(r(0), r(1))).getOrElse(World)
          out += DbBridge(key(r(0), r(1)), r(2), kernel, acc, box, grid)
        } catch { case _: Unsupported => /* unmapped method: not a candidate */ }
      }
    }

    opIndex.values.foreach { case (t, r) => emit(t, r, recordKernel(t, r)) }

    // concatenated operations: multi-hop registry paths (reference:
    // concatenated_operation(+_step) tables; e.g. Tokyo→WGS84 chains) —
    // each step record built in its own direction, reversed per the
    // step_direction column, composed into one pipeline kernel
    tables.getOrElse("concatenated_operation", Vector.empty).foreach { r =>
      // row: (auth, code, name, desc, src(2), tgt(2), accuracy, version, deprecated)
      val srcK = key(r(4), r(5)); val tgtK = key(r(6), r(7))
      val fwd = srcK == geogKey && hubKeys.contains(tgtK)
      val inv = tgtK == geogKey && hubKeys.contains(srcK)
      if ((fwd || inv) && r(10) != "1" && authOk(r(0)) &&
          pmOfGeod(srcK) == 0.0 && pmOfGeod(tgtK) == 0.0) {
        try {
          val steps = concatSteps.getOrElse(key(r(0), r(1)),
            throw Unsupported(s"concatenated op ${key(r(0), r(1))} has no steps"))
          // step_direction is NULL throughout the shipped registry — the
          // reference infers it by CHAINING the step CRS codes
          // (ConcatenatedOperation::fixStepsDirection); do the same walk,
          // validating continuity, and honor an explicit direction only
          // when it agrees with the chain
          def datumOf(k: String) = geodCrsRows.get(k).map(g => key(g(7), g(8)))
          // exact code match first; else the 2D/3D/geocentric sibling of
          // the same datum (the reference chains by datum compatibility)
          def chainEq(a: String, b: String) =
            a == b || (datumOf(a).isDefined && datumOf(a) == datumOf(b))
          var current = srcK
          val mks = steps.map { case (stepKey, dir) =>
            val (t, sr) = opIndex.getOrElse(stepKey,
              throw Unsupported(s"step $stepKey not a transformation record"))
            val sSrc = key(sr(7), sr(8)); val sTgt = key(sr(9), sr(10))
            val reversed =
              if (sSrc == current) false
              else if (sTgt == current) true
              else if (chainEq(sSrc, current)) false
              else if (chainEq(sTgt, current)) true
              else throw Unsupported(
                s"concatenated chain breaks at $stepKey ($current vs $sSrc/$sTgt)")
            if (dir == "forward" && reversed || dir == "reverse" && !reversed)
              throw Unsupported(s"step $stepKey direction conflicts with chain")
            current = if (reversed) sSrc else sTgt
            val (mk, _) = recordKernel(t, sr)
            (mk, reversed)
          }
          if (!chainEq(current, tgtK))
            throw Unsupported(
              s"concatenated chain ends at $current, expected $tgtK")
          val kernel0: () => PointKernel = () => {
            val ks = mks.map { case (mk, rev) =>
              val k = mk()
              if (rev) graft.geo.kernels.InverseKernel(k): PointKernel else k
            }
            if (ks.size == 1) ks.head
            else graft.geo.kernels.PipelineKernel(ks.toArray)
          }
          val kernel: () => PointKernel =
            if (fwd) kernel0 else () => graft.geo.kernels.InverseKernel(kernel0())
          val acc = if (r(8) == null) 999.0 else r(8).toDouble
          val box = extentOf("concatenated_operation", key(r(0), r(1))).getOrElse(World)
          // validate step resolvability eagerly (grids etc.) so broken
          // chains never become candidates
          kernel()
          out += DbBridge(key(r(0), r(1)), r(2), kernel, acc, box, None)
        } catch {
          case _: Unsupported | _: ProjString.BadProjString => // not a candidate
        }
      }
    }
    // supersession LAST, against the lowered set: a superseded record is
    // dropped only when its replacement is itself a usable candidate —
    // usable meaning its kernel instantiates (a replacement pointing at a
    // non-shipped grid must not erase the working helmert fallback)
    dropSuperseded(out.result(), supersededBy)(_.opKey) { b =>
      try { b.kernel(); true }
      catch {
        case _: Unsupported | _: ProjString.BadProjString => false
      }
    }.sortBy(_.accuracy)
  }
}
