package graft.geo.proj

import graft.geo.grids.{Grid, Grids}
import graft.geo.kernels.{InverseKernel, IOUnits, NoopKernel, PipelineKernel, PointKernel}
import graft.geo.math.Ellipsoid

/** CRS→CRS candidate-operation factory — derives the [[CrsPlanner]]'s
  * candidate list automatically from two CRS *descriptions* instead of
  * hand-supplied operations.  This is the engine's analogue of the
  * reference's operation factory
  * (/root/reference/src/iso19111/operation/coordinateoperationfactory.cpp:596-793
  * `createOperations`): decompose each CRS into a core conversion plus its
  * to-hub datum bridges, enumerate bridge combinations as ranked candidate
  * operations (grid-backed shifts bounded by their grid extents, Helmert /
  * null bridges as grid-free fallbacks), and hand the list to the runtime
  * planner for per-point bbox dispatch with retry.
  *
  * Accepted CRS descriptions (all lowered to the proj-string language):
  *  - proj-strings (`+proj=… +datum=…`/`+towgs84=…`/`+nadgrids=…`/`+geoidgrids=…`),
  *  - authority codes (`EPSG:nnnn`, via the builtin [[EpsgInit]] table and
  *    classic init files on the search path),
  *  - WKT2 / WKT1 CRS text (via [[Wkt]]), including BOUNDCRS bridges.
  *
  * Divergence from *classic* proj.4 semantics, on purpose: when a CRS
  * carries both `+nadgrids` and `+towgs84`, classic cs2cs uses only the
  * grids; this factory emits BOTH as candidates — the grid shift
  * (higher accuracy, bounded by the grid extent) and the Helmert bridge
  * as the grid-free fallback everywhere else — matching the reference's
  * modern per-area candidate ranking (`pj_get_suggested_operation`,
  * /root/reference/src/trans.cpp:47-176) rather than the one-shot classic
  * pipeline.  GIS axis order (lon,lat / easting,northing) on both ends.
  */
object OperationFactory {

  /** One to-hub datum bridge of a CRS: `kernel` maps datum-local
    * geographic RADIANS → hub (WGS84) geographic RADIANS forward.
    * `bboxDeg` is its applicability window in datum-local degrees. */
  final case class Bridge(key: String, kernel: PointKernel,
                          bboxDeg: (Double, Double, Double, Double),
                          accuracy: Double, gridFree: Boolean,
                          isNoop: Boolean)

  /** A CRS decomposed for composition: `core` maps hub-level greenwich
    * radians → the CRS's own coordinates (projection + pm + units + axis
    * glue, datum-free); `bridges` are its to-hub datum candidates in
    * preference order; `datumKey` is a normalized signature for
    * same-datum short-circuiting. */
  final case class CrsParts(spec: String, core: PointKernel,
                            ellipsoid: Ellipsoid, datumKey: String,
                            bridges: Seq[Bridge],
                            latFirst: Boolean = false,
                            droppedGrids: Seq[String] = Nil)

  /** The option set of `proj_create_crs_to_crs`
    * (/root/reference/src/crs_to_crs.cpp:496-543):
    *  - `areaOfInterest` — `PJ_AREA` (west, south, east, north degrees);
    *    candidates not intersecting it are excluded (the
    *    PARTIAL_INTERSECTION criterion the reference sets, :557-560);
    *  - `desiredAccuracy` — `ACCURACY=`: candidates worse than this many
    *    metres are excluded (0 = no filter);
    *  - `allowBallpark` — `ALLOW_BALLPARK=NO` excludes the datum-less
    *    ballpark bridges;
    *  - `onlyBest` — `ONLY_BEST=YES`: error out when a best-ranked
    *    transformation could not be instantiated (a datum grid that did
    *    not resolve) instead of silently using the next-best bridge;
    *  - `authorityOrder` — honor each CRS's AUTHORITY axis order instead
    *    of GIS lon,lat (see [[crsToCrs]]). */
  final case class CrsToCrsOptions(
      areaOfInterest: Option[(Double, Double, Double, Double)] = None,
      desiredAccuracy: Double = 0.0,
      allowBallpark: Boolean = true,
      onlyBest: Boolean = false,
      authorityOrder: Boolean = false,
      /** Extra point-motion candidates considered alongside the registry's
        * (the registry's own velocity grids are CDN assets; a deployment
        * that fetched or locally built one can hand it in here). */
      extraPointMotion: Seq[AuthorityDb.PointMotionOp] = Nil)

  private val World = (-180.0, -90.0, 180.0, 90.0)

  /** Lower any accepted CRS description to proj-string tokens, plus the
    * AUTHORITY axis order when the description carries one (WKT axes,
    * the builtin authority table, or the parsed authority database) and
    * the database record when the code resolved there (its transformation
    * records then drive the datum bridges; bare proj-strings are GIS
    * order).  `urn:ogc:def:crs:AUTH::CODE` unwraps to `AUTH:CODE`. */
  /** CRS URN with optional version token between authority and code, e.g.
    * urn:ogc:def:crs:OGC:1.3:CRS84 / urn:ogc:def:crs:EPSG:9.9.1:4326 /
    * urn:ogc:def:crs:EPSG::4326 / urn:ogc:def:crs:EPSG:4326 */
  private val UrnCrs =
    "(?i)urn:ogc:def:crs:([A-Za-z0-9_]+):(?:[A-Za-z0-9.]*:)?([A-Za-z0-9_.]+)".r

  private def resolveSpec(spec: String): (String, Boolean, Option[AuthorityDb.ResolvedCrs]) = {
    val t0 = spec.trim
    val t = t0 match {
      case UrnCrs(a, c) => s"$a:$c"
      case _ => t0
    }
    if (Wkt.looksLikeWkt(t)) {
      val crs = Wkt.parseCrs(t)
      (crs.projString, crs.latFirst, None)
    } else if (ProjJson.looksLikeProjJson(t)) {
      val crs = ProjJson.parseCrs(t)
      (crs.projString, crs.latFirst, None)
    } else if (t.matches("(?i)epsg:\\d+") &&
               EpsgInit.lookup(t.toLowerCase).isDefined) {
      val lower = t.toLowerCase
      val latFirst = EpsgInit.crsDefs.get(lower).exists(_.latFirst)
      // keep the classic builtin definition, but carry the database
      // record along: when the builtin def has no datum tokens (e.g.
      // ED50, Pulkovo 1942), the registry's transformation records are
      // the only source of real datum bridges
      // any registry problem (absent/partial/malformed data/sql dir) must
      // not break builtin resolution that predates the database
      val db = try AuthorityDb.crs("EPSG", lower.stripPrefix("epsg:"))
        catch { case scala.util.control.NonFatal(_) => None }
      (EpsgInit.lookup(lower).get, latFirst, db)
    } else if (t.matches("(?i)[a-z][a-z0-9_]*:[0-9a-z_.]+")) {
      val Array(auth, code) = t.split(":", 2)
      AuthorityDb.crs(auth, code) match {
        case Some(rc) => (rc.spec, rc.latFirst, Some(rc))
        case None =>
          if (auth.equalsIgnoreCase("epsg")) {
            AuthorityDb.requireAvailable()
            throw ProjString.Unsupported(
              s"authority code $t (not in builtin table or authority database)")
          } else (t, false, None) // not an authority we know — try as proj tokens
      }
    } else if (!t.contains('+') && !t.contains('=') && !t.contains('[') &&
               t.length >= 3 && t.exists(_.isLetter)) {
      // registry NAME front door ("WGS 84 / UTM zone 33N") — the
      // reference's createFromUserInput name search (io.cpp:8219)
      AuthorityDb.findByName(t) match {
        case Some((auth, code)) =>
          AuthorityDb.crs(auth, code) match {
            case Some(rc) => (rc.spec, rc.latFirst, Some(rc))
            case None => throw ProjString.Unsupported(s"CRS name '$t' ($auth:$code)")
          }
        case None =>
          AuthorityDb.requireAvailable()
          throw ProjString.Unsupported(s"unknown CRS name '$t'")
      }
    } else (t, false, None)
  }

  private def ellParams(e: Ellipsoid): String =
    if (e.isSphere) s"+R=${e.a}" else s"+a=${e.a} +rf=${e.rf}"

  /** Normalize a towgs84 value list: parse, pad to 7, drop trailing
    * zero block so `0,0,0` == `0,0,0,0,0,0,0`. */
  private def normTowgs84(v: String): Array[Double] = {
    val xs = v.split(',').map(s => ProjString.parseDouble(s.trim))
    xs.padTo(7, 0.0)
  }

  /** Clamped union bbox (degrees) of a grid set's extents — one body for
    * the horizontal and vertical families so extent handling cannot
    * drift between them. */
  private def bboxOfGrids(
      sets: List[List[Grid]]): Option[(Double, Double, Double, Double)] = {
    val es = sets.flatten.map(_.extent)
    if (es.isEmpty) None
    else Some((math.max(-180, es.map(e => math.toDegrees(e.west)).min),
      math.max(-90, es.map(e => math.toDegrees(e.south)).min),
      math.min(180, es.map(e => math.toDegrees(e.east)).max),
      math.min(90, es.map(e => math.toDegrees(e.north)).max)))
  }

  private def intersect(a: (Double, Double, Double, Double),
                        b: (Double, Double, Double, Double)): Option[(Double, Double, Double, Double)] = {
    val w = math.max(a._1, b._1); val s = math.max(a._2, b._2)
    val e = math.min(a._3, b._3); val n = math.min(a._4, b._4)
    if (w < e && s < n) Some((w, s, e, n)) else None
  }

  /** Build the local-radians → hub-radians kernel for one datum token
    * set by reusing the cs2cs glue machinery (a datum-bearing latlong
    * definition — RADIANS both sides in this engine — run inverse), so
    * grid/Helmert/geoid ordering is the single
    * [[graft.geo.kernels.GlueKernel]] implementation. */
  private def bridgeKernel(e: Ellipsoid, datumToks: String): PointKernel =
    InverseKernel(ProjString.parse(s"+proj=latlong ${ellParams(e)} $datumToks"))

  /** Decompose one CRS description.  Throws [[ProjString.Unsupported]] /
    * [[ProjString.BadProjString]] like `ProjString.parse`. */
  def describe(spec: String): CrsParts = {
    val (lowered, latFirst, dbCrs) = resolveSpec(spec)
    val raw = ProjString.tokenize(lowered)
    if (raw.contains("step") || raw.contains("proj=pipeline"))
      throw ProjString.Unsupported(
        "operation factory takes CRS definitions, not pipelines")
    val tokens = ProjString.expandInit(raw)
    val p0 = ProjString.toParams(tokens)
    val p = ProjString.expandDatum(p0)
    val ell = ProjString.ellipsoidOf(p)

    val towgs84 = p.get("towgs84")
    val nadgrids = p.get("nadgrids")
    val geoidgrids = p.get("geoidgrids")
    val geoidTok = geoidgrids.map(g => s" +geoidgrids=$g").getOrElse("")
    val geoidBox = geoidgrids.flatMap { g =>
      try bboxOfGrids(Grids.vgridSets(g)) catch { case _: ProjString.AssetMissing => None }
    }

    // --- core: the datum-free conversion ---------------------------------
    val dropKeys = Set("towgs84", "nadgrids", "geoidgrids", "datum", "init")
    val coreStr = tokens
      .filterNot(t => dropKeys.contains(t.takeWhile(_ != '=')) )
      .map(t => "+" + t).mkString(" ") + {
        // expandDatum may have been the only source of the ellipsoid
        if (!p0.has("ellps") && !p0.has("a") && !p0.has("R") && p.has("ellps"))
          s" +ellps=${p.get("ellps").get}" else ""
      }
    // the engine's latlong family is RADIANS both sides (callers add
    // unitconvert); a CRS surface is degrees, so wrap geographic cores
    val parsedCore = ProjString.parse(coreStr)
    val core =
      if (parsedCore.right == IOUnits.Radians)
        PipelineKernel(Array(parsedCore,
          ProjString.parse("+proj=unitconvert +xy_in=rad +xy_out=deg")))
      else parsedCore

    // --- datum bridges, best first ---------------------------------------
    val bridges = Seq.newBuilder[Bridge]
    val dropped = Seq.newBuilder[String]
    nadgrids.foreach { spec =>
      spec.split(',').foreach { raw =>
        val optional = raw.startsWith("@")
        val name = if (optional) raw.substring(1) else raw
        if (name == "null") {
          // @null = "assume the datums coincide": usable everywhere but
          // ranked like a rough transform so a real grid always wins
          // inside its extent
          bridges += Bridge("grid:null",
            if (geoidgrids.isEmpty) NoopKernel
            else bridgeKernel(ell, geoidTok.trim),
            geoidBox.getOrElse(World),
            accuracy = 4.0, gridFree = true, isNoop = geoidgrids.isEmpty)
        } else {
          // a grid that does not resolve (or fails to load) is simply not
          // a candidate — the reference excludes grid-missing operations
          // the same way when networking is off
          val loaded =
            try bboxOfGrids(Grids.hgridSets(name))
            catch { case _: ProjString.AssetMissing | _: Grids.BadGrid => None }
          loaded match {
            case Some(box) =>
              bridges += Bridge(s"grid:$name",
                bridgeKernel(ell, s"+nadgrids=$name$geoidTok"),
                geoidBox.map(g => intersect(box, g).getOrElse(box)).getOrElse(box),
                accuracy = 0.15, gridFree = false, isNoop = false)
            case None => dropped += name
          }
        }
      }
    }
    towgs84.foreach { v =>
      val xs = normTowgs84(v)
      val zero = xs.forall(_ == 0.0)
      // heuristic accuracies in the reference's spirit: null transform to
      // the hub ~exact, 3-param geocentric translation ~5 m, 7-param ~1 m
      val acc = if (zero) 0.005 else if (xs.drop(3).forall(_ == 0.0)) 5.0 else 1.0
      // all-zero towgs84 = EPSG-style null transformation at the
      // GEOGRAPHIC level (reference: e.g. EPSG:1149 ETRS89->WGS84 leaves
      // lat/lon untouched), NOT a cart round-trip across slightly
      // different ellipsoids — identity is both faster and what the
      // modern factory produces
      val noop = zero && geoidgrids.isEmpty
      bridges += Bridge(s"towgs84:${xs.mkString(",")}",
        if (noop) NoopKernel else bridgeKernel(ell, s"+towgs84=$v$geoidTok"),
        geoidBox.getOrElse(World), accuracy = acc,
        gridFree = true, isNoop = noop)
    }
    // authority-database bridges: the code's own transformation records
    // to/from the WGS 84 hub, each with per-record accuracy and extent
    // (the reference's database-driven candidate list,
    // coordinateoperationfactory.cpp:596).  Only when the definition
    // carries no datum tokens of its own — builtin towgs84/nadgrids
    // semantics stay exactly as pinned
    if (nadgrids.isEmpty && towgs84.isEmpty) dbCrs.foreach { rc =>
      AuthorityDb.bridges(rc.geogKey).foreach { b =>
        try {
          val k0 = b.kernel()
          // a compound CRS carries +geoidgrids: the vertical glue
          // (orthometric→ellipsoidal height on the local datum) applies
          // before the horizontal datum bridge, like the cs2cs path
          val k: PointKernel =
            if (geoidgrids.isEmpty) k0
            else if (k0 == NoopKernel) bridgeKernel(ell, geoidTok.trim)
            else PipelineKernel(Array(bridgeKernel(ell, geoidTok.trim), k0))
          val noop = geoidgrids.isEmpty && k == NoopKernel
          bridges += Bridge(s"db:${b.opKey}", k,
            geoidBox.map(g => intersect(b.bbox, g).getOrElse(b.bbox))
              .getOrElse(b.bbox),
            b.accuracy,
            gridFree = b.gridName.isEmpty && geoidgrids.isEmpty,
            isNoop = noop)
        } catch {
          case _: ProjString.Unsupported | _: ProjString.BadProjString =>
            dropped += b.opKey
        }
      }
    }
    if (nadgrids.isEmpty && towgs84.isEmpty) {
      // no datum information: the reference's "ballpark" transformation —
      // identity at the geographic level, worst-ranked
      bridges += Bridge("ballpark",
        if (geoidgrids.isEmpty) NoopKernel
        else bridgeKernel(ell, geoidTok.trim),
        geoidBox.getOrElse(World),
        accuracy = 1e6, gridFree = true, isNoop = geoidgrids.isEmpty)
    }

    val datumKey = {
      // BOTH bridge kinds participate whenever present: a CRS carrying
      // +nadgrids in addition to +towgs84 is a different datum story than
      // towgs84 alone (the grid is the preferred candidate inside its
      // extent) — letting towgs84 mask the grids would short-circuit such
      // pairs to identity and skip the grid shift
      val t = towgs84.map(v => "t:" + normTowgs84(v).mkString(","))
      val g = nadgrids.map(v => "g:" + v)
      val d = (t.toSeq ++ g.toSeq).mkString("+") match {
        // a database-resolved CRS keys on its datum (ensemble) record, so
        // two CRS on the same registry datum short-circuit and CRS on
        // different datums never alias through the shared "none" key
        case "" => dbCrs.map(rc => s"auth:${rc.datumId}").getOrElse("none")
        case x => x
      }
      s"$d|e:${ell.a}/${ell.rf}${geoidgrids.map("|v:" + _).getOrElse("")}"
    }
    CrsParts(lowered, core, ell, datumKey, bridges.result(), latFirst,
      dropped.result())
  }


  /** Enumerate ranked candidate operations between two decomposed CRS:
    * datum-equal pairs short-circuit to the exact direct conversion
    * (reference: same-datum → conversion-only path); otherwise the
    * cartesian product of both bridge lists, bbox-intersected.
    *
    * `areaOfInterest` is the caller's `PJ_AREA` (west, south, east, north
    * in degrees): candidates whose applicability window does not
    * intersect it are excluded — the PARTIAL_INTERSECTION spatial
    * criterion `proj_create_crs_to_crs` sets on its factory context
    * (/root/reference/src/crs_to_crs.cpp:557-560, filter
    * coordinateoperationfactory.cpp:1366-1372).  Surviving candidates
    * keep their own full windows for per-point dispatch. */
  def createOperations(src: CrsParts, dst: CrsParts,
                       opts: CrsToCrsOptions): Seq[CrsPlanner.Candidate] = {
    opts.areaOfInterest.foreach { a =>
      require(a._1 < a._3 && a._2 < a._4,
        s"area of interest must be (west, south, east, north) with west < " +
          s"east and south < north, got $a")
    }
    // same-datum first: the identity conversion is the best operation and
    // always instantiable, so ONLY_BEST cannot fail it even when the
    // (unused) datum grids are unavailable
    if (src.datumKey == dst.datumKey)
      return Seq(CrsPlanner.Candidate(NoopKernel, World._1, World._2,
        World._3, World._4, accuracy = 0.0, gridFree = true))
    if (opts.onlyBest && (src.droppedGrids.nonEmpty || dst.droppedGrids.nonEmpty))
      throw ProjString.Unsupported(
        "best transformation not instantiable with ONLY_BEST: grid(s) " +
          (src.droppedGrids ++ dst.droppedGrids).mkString(", ") +
          " did not resolve")
    val out = Seq.newBuilder[CrsPlanner.Candidate]
    for (bs <- src.bridges; bd <- dst.bridges) {
      val ballpark = bs.key == "ballpark" || bd.key == "ballpark"
      val acc = bs.accuracy + bd.accuracy
      if ((opts.allowBallpark || !ballpark) &&
          (opts.desiredAccuracy <= 0.0 || acc <= opts.desiredAccuracy))
        intersect(bs.bboxDeg, bd.bboxDeg)
          .filter(box => opts.areaOfInterest.forall(a => intersect(box, a).isDefined))
          .foreach { box =>
          val k: PointKernel =
            if (bs.isNoop && bd.isNoop) NoopKernel
            else if (bd.isNoop) bs.kernel
            else if (bs.isNoop) InverseKernel(bd.kernel)
            else PipelineKernel(Array(bs.kernel, InverseKernel(bd.kernel)))
          out += CrsPlanner.Candidate(k, box._1, box._2, box._3, box._4,
            accuracy = acc,
            gridFree = bs.gridFree && bd.gridFree)
        }
    }
    out.result().sortBy(c => (c.accuracy, c.pseudoArea))
  }

  def createOperations(src: CrsParts, dst: CrsParts): Seq[CrsPlanner.Candidate] =
    createOperations(src, dst, CrsToCrsOptions())

  def createOperations(srcSpec: String, dstSpec: String): Seq[CrsPlanner.Candidate] =
    createOperations(describe(srcSpec), describe(dstSpec), CrsToCrsOptions())

  def createOperations(srcSpec: String, dstSpec: String,
                       areaOfInterest: Option[(Double, Double, Double, Double)]
                      ): Seq[CrsPlanner.Candidate] =
    createOperations(describe(srcSpec), describe(dstSpec),
      CrsToCrsOptions(areaOfInterest = areaOfInterest))

  def createOperations(srcSpec: String, dstSpec: String,
                       opts: CrsToCrsOptions): Seq[CrsPlanner.Candidate] =
    createOperations(describe(srcSpec), describe(dstSpec), opts)

  /** The complete src→dst transformation: inverse source conversion, the
    * per-point candidate planner (elided when a single world-spanning
    * candidate remains), forward destination conversion.  The result is
    * an ordinary [[PointKernel]] — usable in `geo.transform` and hence
    * whole-stage codegen, exactly like a hand-written pipeline. */
  def crsToCrs(srcSpec: String, dstSpec: String): PointKernel =
    crsToCrs(srcSpec, dstSpec, authorityOrder = false)

  /** As [[crsToCrs]]; with `authorityOrder = true` the kernel's I/O
    * honors each CRS's AUTHORITY axis order (EPSG geographic CRS are
    * lat,lon — `proj_create_crs_to_crs` behavior), instead of the
    * GIS-traditional lon,lat / easting,northing default
    * (`proj_normalize_for_visualization` behavior). */
  def crsToCrs(srcSpec: String, dstSpec: String,
               authorityOrder: Boolean): PointKernel =
    crsToCrs(srcSpec, dstSpec,
      CrsToCrsOptions(authorityOrder = authorityOrder))

  /** As [[crsToCrs]]; `areaOfInterest` (west, south, east, north degrees)
    * restricts candidate operations to those applicable in the area —
    * the `PJ_AREA` argument of `proj_create_crs_to_crs`. */
  def crsToCrs(srcSpec: String, dstSpec: String, authorityOrder: Boolean,
               areaOfInterest: Option[(Double, Double, Double, Double)]): PointKernel =
    crsToCrs(srcSpec, dstSpec, CrsToCrsOptions(
      areaOfInterest = areaOfInterest, authorityOrder = authorityOrder))

  /** As [[crsToCrs]] with the full `proj_create_crs_to_crs` option set —
    * see [[CrsToCrsOptions]]. */
  /** Authority code of a standalone vertical CRS, when `spec` is one —
    * an `AUTH:code` / URN form, or WKT `VERTCRS[...]` text whose ID
    * resolves in the registry. */
  private def verticalCode(spec: String): Option[(String, String)] = {
    if (!AuthorityDb.available) return None
    val t0 = spec.trim
    val kw = t0.takeWhile(c => c.isLetter || c == '_').toUpperCase
    if (kw == "VERTCRS" || kw == "VERTICALCRS" || kw == "VERT_CS") {
      return (try {
        val n = Wkt.parseNode(t0)
        n.nodes("ID", "AUTHORITY").collectFirst {
          case id if id.args.size >= 2 =>
            val code = id.args(1) match {
              case Wkt.WNum(v) => v.toLong.toString
              case Wkt.WStr(s) => s
              case other => other.toString
            }
            (id.str(0).toUpperCase, code)
        }
      } catch { case _: Wkt.BadWkt => None })
        .filter { case (a, c) => AuthorityDb.verticalInfo(a, c).isDefined }
        .orElse(throw ProjString.Unsupported(
          s"vertical CRS WKT needs a registry ID to resolve offsets: " +
            t0.take(60)))
    }
    val t = t0 match {
      case UrnCrs(a, c) => s"$a:$c"
      case other => other
    }
    val code = "([A-Za-z_]+):([A-Za-z0-9_.]+)".r
    t match {
      case code(a, c) if AuthorityDb.verticalInfo(a.toUpperCase, c).isDefined =>
        Some((a.toUpperCase, c))
      case _ => None
    }
  }

  def crsToCrs(srcSpec: String, dstSpec: String,
               opts: CrsToCrsOptions): PointKernel = {
    // coordinate-epoch front door: "CRS@2002.0" / COORDINATEMETADATA[…]
    // specs route through the point-motion composition (reference:
    // createFromUserInput '@' handling io.cpp:7716 feeding
    // createOperations with CoordinateMetadata) — a plain spec parses to
    // epoch-less metadata and stays on the static path below
    // reference quirk kept: a NAME-ish whole text is tried as a CRS name
    // FIRST, so a hypothetical registry name containing '@' would win
    // over the epoch split (io.cpp:7720 "Try first as if belonged to the
    // name").  The probe applies ONLY to name-shaped text: structured
    // specs (WKT '[', proj '+'/'=', JSON '{') keep their parsed epoch —
    // resolveSpec's lenient fallthroughs would otherwise swallow a
    // trailing '@epoch' (parseNode stops at the root ']') or misread
    // COORDINATEMETADATA as proj tokens, silently degrading a dynamic-
    // datum request to a static transform.
    def meta(spec: String): CoordinateMetadata = {
      val m = CoordinateMetadata.of(spec)
      if (m.epoch.isEmpty) return m
      val t = spec.trim
      // DELIBERATELY stricter than resolveSpec's name-dispatch gate
      // (which allows '(' and '{'): a paren here could be a WKT bracket
      // alternate whose trailing '@epoch' parseNode would ignore — keep
      // the two predicates' difference in mind if either changes
      val nameish = !t.contains('[') && !t.contains('(') &&
        !t.contains('+') && !t.contains('=') && !t.contains('{')
      // any resolver failure (unknown name, ambiguous name, a malformed
      // registry) means "not a CRS name": fall back to the parsed epoch
      if (!nameish) m
      else try { resolveSpec(t); CoordinateMetadata(t) }
      catch { case scala.util.control.NonFatal(_) => m }
    }
    val srcMeta = meta(srcSpec)
    val dstMeta = meta(dstSpec)
    if (srcMeta.epoch.isDefined || dstMeta.epoch.isDefined)
      return crsToCrs(srcMeta, dstMeta, opts)
    // static path gets the metadata's CRS text, not the raw spec: an
    // epoch-LESS COORDINATEMETADATA[...] unwraps to its inner CRS here
    crsToCrsStatic(srcMeta.crs, dstMeta.crs, opts)
  }

  /** Epoch-aware transformation between CRS-with-epoch pairs — the
    * reference's createOperations over CoordinateMetadata
    * (coordinateoperationfactory.cpp:8124; point-motion composition
    * :4279-4335): when the epochs differ, the coordinates first move
    * through a point-motion operation of the source datum (or, failing
    * that, the target datum) from the source epoch to the target epoch,
    * then the ordinary static path applies at the target epoch:
    *
    *   src → PMO frame (static)  ∘  PMO(srcEpoch → tgtEpoch)  ∘
    *   PMO frame → dst (static)
    *
    * Equal or absent epochs reduce to the static path.  No point-motion
    * operation for either datum, or none whose velocity grid resolves,
    * is a typed Unsupported — never a silent static transform, which
    * would be wrong by up to decimetres per decade on a dynamic datum. */
  def crsToCrs(src: CoordinateMetadata, dst: CoordinateMetadata,
               opts: CrsToCrsOptions = CrsToCrsOptions()): PointKernel = {
    val differ = (for (a <- src.epoch; b <- dst.epoch)
      yield math.abs(a - b) > 1e-10).getOrElse(false)
    if (!differ) return crsToCrsStatic(src.crs, dst.crs, opts)
    val e1 = src.epoch.get; val e2 = dst.epoch.get
    val inner = opts.copy(authorityOrder = false)
    val (_, _, srcRc) = resolveSpec(src.crs)
    val (_, _, dstRc) = resolveSpec(dst.crs)
    def pmosOf(rc: Option[AuthorityDb.ResolvedCrs]) =
      rc.map(r => AuthorityDb.pointMotionOps(r.geogKey)).getOrElse(Nil)
    val srcPmos = opts.extraPointMotion ++ pmosOf(srcRc)
    val pmos = if (srcPmos.nonEmpty) srcPmos else pmosOf(dstRc)
    if (pmos.isEmpty)
      throw ProjString.Unsupported(
        s"no point-motion operation for the datum of '${src.crs}' or" +
          s" '${dst.crs}' — cannot change coordinate epoch $e1 -> $e2")
    val lowered = pmos.iterator.map { p =>
      try Right((p, AuthorityDb.pointMotionKernel(p, e1, e2)))
      catch {
        case e: ProjString.Unsupported => Left(s"${p.opKey}: ${e.getMessage}")
      }
    }.toSeq
    val (pmo, pk) = lowered.collectFirst { case Right(x) => x }.getOrElse(
      throw ProjString.Unsupported(
        "point-motion operations exist but none lowers: " +
          lowered.collect { case Left(m) => m }.mkString("; ")))
    def isPmoFrame(rc: Option[AuthorityDb.ResolvedCrs]) =
      rc.exists(r => s"${r.auth.toUpperCase}:${r.code}" == pmo.crsKey)
    val k1: PointKernel =
      if (isPmoFrame(srcRc)) NoopKernel
      else crsToCrsStatic(src.crs, pmo.crsKey, inner)
    val k2: PointKernel =
      if (isPmoFrame(dstRc)) NoopKernel
      else crsToCrsStatic(pmo.crsKey, dst.crs, inner)
    val steps = Seq(k1, pk, k2).filterNot(_ == NoopKernel).toArray
    val mid = if (steps.length == 1) steps.head else PipelineKernel(steps)
    if (!opts.authorityOrder) mid
    else {
      def swap: PointKernel = ProjString.parse("+proj=axisswap +order=2,1")
      val pre = if (describe(src.crs).latFirst) Seq(swap) else Nil
      val post = if (describe(dst.crs).latFirst) Seq(swap) else Nil
      val all = (pre ++ Seq(mid) ++ post).toArray
      if (all.length == 1) all.head else PipelineKernel(all)
    }
  }

  private def crsToCrsStatic(srcSpec: String, dstSpec: String,
                             opts: CrsToCrsOptions): PointKernel = {
    // grid-free vertical branch: standalone vertical CRS pairs resolve
    // through the registry's 9616/1046 offset records (the reference
    // factory's vertical path, coordinateoperationfactory.cpp:563-664);
    // a vertical↔horizontal pair is a typed error, not a fall-through
    (verticalCode(srcSpec), verticalCode(dstSpec)) match {
      case (Some((sa, sc)), Some((ta, tc))) =>
        return ProjString.parse(
          AuthorityDb.verticalOperationString(sa, sc, ta, tc))
      case (Some(_), None) | (None, Some(_)) =>
        throw ProjString.Unsupported(
          s"'$srcSpec' -> '$dstSpec': a standalone vertical CRS can only" +
            " be transformed to another vertical CRS (use a compound CRS" +
            " for horizontal+vertical)")
      case _ =>
    }
    val authorityOrder = opts.authorityOrder
    val src = describe(srcSpec)
    val dst = describe(dstSpec)
    val cands = createOperations(src, dst, opts)
    if (cands.isEmpty)
      throw ProjString.Unsupported(
        s"no operation path between '$srcSpec' and '$dstSpec'" +
          opts.areaOfInterest.map(a => s" applicable in area $a").getOrElse("") +
          " (all candidates excluded: grids unavailable, outside the area," +
          " filtered by accuracy, or ballpark-only)")
    val mid: PointKernel =
      if (cands.length == 1 && cands.head.westDeg <= -180 && cands.head.southDeg <= -90 &&
          cands.head.eastDeg >= 180 && cands.head.northDeg >= 90) cands.head.kernel
      else CrsPlanner.kernel(cands)
    def swap: PointKernel = ProjString.parse("+proj=axisswap +order=2,1")
    val srcSwap =
      if (authorityOrder && src.latFirst) Seq(swap) else Nil
    val dstSwap =
      if (authorityOrder && dst.latFirst) Seq(swap) else Nil
    val steps = (srcSwap ++ Seq(InverseKernel(src.core), mid, dst.core) ++ dstSwap)
      .filterNot {
        case NoopKernel => true
        case InverseKernel(NoopKernel) => true
        case _ => false
      }.toArray
    if (steps.length == 1) steps.head else PipelineKernel(steps)
  }
}
