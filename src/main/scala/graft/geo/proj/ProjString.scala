package graft.geo.proj

import graft.geo.grids.{DefModel, DefModelKernel, DeformationKernel, Grids, GridshiftKernel, HgridshiftKernel, TinShift, TinShiftKernel, VgridshiftKernel, XyzGridshiftKernel}
import graft.geo.kernels._
import graft.geo.math.{Ellipsoid, ProjMath => M}

/** proj-string front-end: `"+proj=utm +zone=32 +ellps=GRS80"` ->
  * [[PointKernel]].  This is the engine's text-level API for defining
  * coordinate operations (the analogue of `proj_create`,
  * /root/reference/src/init.cpp:436-799 + /root/reference/src/pipeline.cpp
  * :361-639) and the driver for the gie golden-fixture harness.
  *
  * Supported operations: pipeline (with step/+inv/omit_fwd/omit_inv),
  * tmerc/etmerc/utm, merc/webmerc, lcc, eqc, cart, helmert, axisswap,
  * unitconvert (linear+angular), geoc, geogoffset, noop, longlat aliases.
  * Anything else throws [[ProjString.Unsupported]] — callers (e.g. the gie
  * runner) treat that as "operation not in this engine's inventory".
  */
object ProjString {

  class Unsupported(what: String)
      extends RuntimeException(s"unsupported: $what")
  object Unsupported { def apply(what: String) = new Unsupported(what) }

  /** An asset file (grid, deformation model, triangulation, the `data/sql`
    * registry) that none of `searched` holds: PROJ's
    * PROJ_ERR_INVALID_OP_FILE_NOT_FOUND_OR_INVALID for an absent file.  An
    * [[Unsupported]], so every caller that skips an operation outside the
    * inventory skips one whose file is absent; a file that is present but
    * malformed is a [[BadProjString]] instead. */
  final case class AssetMissing(what: String, file: String, searched: Seq[String])
      extends Unsupported(what) {
    def detail: String = s"$getMessage (searched: ${searched.mkString(", ")})"
  }

  /** Malformed input: a proj-string, or an asset file that is present but
    * unreadable ([[Grids.BadGrid]], [[TinShift.BadModel]],
    * [[DefModel.BadModel]]). */
  class BadProjString(what: String) extends RuntimeException(what)
  object BadProjString { def apply(what: String) = new BadProjString(what) }

  /** One +key[=value] token bag, preserving duplicate-free lookup order. */
  final case class Params(kv: Map[String, String], flags: Set[String]) {
    def get(k: String): Option[String] = kv.get(k)
    def has(k: String): Boolean = kv.contains(k) || flags.contains(k)
    def double(k: String): Option[Double] = kv.get(k).map(parseDouble)
    def angle(k: String): Option[Double] = kv.get(k).map { v =>
      val t = v.trim
      // trailing r/R = value already in radians (dmstor convention)
      if (t.length > 1 && (t.last == 'r' || t.last == 'R') &&
          { val c = t.charAt(t.length - 2); c.isDigit || c == '.' })
        num(t.dropRight(1), k)
      else math.toRadians(parseDms(v))
    }
  }

  /** `.toDouble` with a typed failure — malformed numerics in user input
    * must surface as [[BadProjString]], never NumberFormatException. */
  private def num(s: String, what: String): Double =
    try s.toDouble
    catch { case _: NumberFormatException =>
      throw BadProjString(s"non-numeric $what: '$s'") }

  /** Parse "12.5", "-64d43'75.34", "17d32'45.6S", "83d10'W" to degrees. */
  def parseDms(s0: String): Double = {
    var s = s0.trim
    var sign = 1.0
    val last = if (s.nonEmpty) s.last.toUpper else ' '
    if (last == 'W' || last == 'S') { sign = -1.0; s = s.dropRight(1) }
    else if (last == 'E' || last == 'N') { s = s.dropRight(1) }
    if (s.startsWith("-")) { sign = -sign; s = s.substring(1) }
    else if (s.startsWith("+")) s = s.substring(1)
    val dIdx = s.indexWhere(c => c == 'd' || c == 'D' || c == '°')
    if (dIdx < 0) return sign * num(s, "angle")
    val deg = if (dIdx == 0) 0.0 else num(s.substring(0, dIdx), "degrees")
    var rest = s.substring(dIdx + 1)
    var minv = 0.0; var secv = 0.0
    if (rest.nonEmpty) {
      val mIdx = rest.indexOf('\'')
      if (mIdx >= 0) {
        minv = if (mIdx == 0) 0.0 else num(rest.substring(0, mIdx), "minutes")
        rest = rest.substring(mIdx + 1).stripSuffix("\"")
        if (rest.nonEmpty) secv = num(rest, "seconds")
      } else if (rest.nonEmpty) minv = num(rest, "minutes")
    }
    sign * (deg + minv / 60.0 + secv / 3600.0)
  }

  def parseDouble(s: String): Double = parseDms(s)

  /** Tokenize a proj-string: strip '+' prefixes, glue "k = v" spacing,
    * drop line-continuation backslashes. */
  private[proj] def tokenize(s: String): List[String] = {
    // ';' is decorative in some published proj strings (GDA.gie style)
    val glued = s.replace(';', ' ').replace('\\', ' ')
      .replaceAll("\\s*=\\s*", "=")
      // comma-separated value lists may be spaced out ("towgs84 = 1, 2, 3"
      // — pj_trim_argc glues these continuations back together)
      .replaceAll(",\\s+", ",")
    glued.split("\\s+").toList
      .map(_.stripPrefix("+"))
      .filter(_.nonEmpty)
  }

  private[proj] def toParams(tokens: List[String]): Params = {
    var kv = Map.empty[String, String]
    var flags = Set.empty[String]
    tokens.foreach { t =>
      val i = t.indexOf('=')
      if (i < 0) flags += t
      else kv = if (kv.contains(t.take(i))) kv else kv + (t.take(i) -> t.drop(i + 1))
    }
    Params(kv, flags)
  }

  /** Ellipsoid resolution per the reference defaults: explicit a/rf/b/f/es,
    * ellps= registry name, R= sphere; otherwise GRS80
    * (/root/reference/src/init.cpp:345-365), followed by the R_*
    * spherification rewrites (ell_set.cpp:349-460). */
  def ellipsoidOf(p: Params): Ellipsoid = {
    p.double("R") match {
      case Some(r) =>
        if (!(r > 0) || r.isInfinite)
          throw BadProjString(s"invalid sphere radius R=$r")
        return Ellipsoid(r, 0.0)
      case None =>
    }
    // base: +ellps registry entry (or GRS80 default); +a overrides size,
    // +rf/+f/+b/+es override shape — matching pj_ellipsoid's
    // size-then-shape resolution (/root/reference/src/ell_set.cpp)
    val base = p.get("ellps") match {
      case Some(name) =>
        name.toLowerCase match {
          case "sphere" => Ellipsoid(6370997.0, 0.0)
          case n => Ellipsoid.byName(n).getOrElse(
            throw BadProjString(s"unknown ellps=$name"))
        }
      case None => Ellipsoid.GRS80
    }
    val a = p.double("a").getOrElse(base.a)
    val rfOverride = p.double("rf")
      .orElse(p.double("f").map(f => if (f == 0) 0.0 else 1.0 / f))
      .orElse(p.double("b").map { b =>
        val f = (a - b) / a; if (f == 0) 0.0 else 1.0 / f
      })
      .orElse(p.double("es").map { es =>
        val f = 1.0 - math.sqrt(1.0 - es); if (f == 0) 0.0 else 1.0 / f
      })
    val resolved = rfOverride match {
      case Some(rf) => Ellipsoid(a, rf)
      case None =>
        if (p.has("a") && !p.has("ellps")) Ellipsoid(a, 0.0) // bare +a: sphere
        else Ellipsoid(a, base.rf)
    }
    // pj_ellipsoid rejects these at setup; letting them through poisons a
    // whole column with NaN coordinates that still report ok=true
    if (!(resolved.a > 0) || resolved.a.isInfinite)
      throw BadProjString(s"invalid major axis a=${resolved.a}")
    if (resolved.es.isNaN || resolved.es < 0.0 || resolved.es >= 1.0 ||
        !(resolved.b > 0))
      throw BadProjString(
        s"invalid ellipsoid shape (es=${resolved.es}, b=${resolved.b})")
    spherify(resolved, p)
  }

  /** `R_A/R_V/R_a/R_g/R_h/R_lat_a/R_lat_g/R_C` — replace the ellipsoid
    * with an equivalent sphere (reference: ellps_spherification,
    * /root/reference/src/ell_set.cpp:356-460). */
  private def spherify(e: Ellipsoid, p: Params): Ellipsoid = {
    val es = e.es
    def latMean(key: String, arithmetic: Boolean): Double = {
      val phi = p.angle(key).getOrElse(0.0)
      if (math.abs(phi) > math.Pi / 2 + 1e-12)
        throw BadProjString(s"|$key| must be <= 90")
      val s = math.sin(phi)
      val t = 1 - es * s * s
      if (t == 0.0) throw BadProjString("invalid eccentricity")
      if (arithmetic) e.a * ((1.0 - es + t) / (2 * t * math.sqrt(t)))
      else e.a * (math.sqrt(1 - es) / t)
    }
    val r: Option[Double] =
      if (p.has("R_A"))
        Some(e.a * (1.0 - es * (1 / 6.0 + es * (17 / 360.0 + es * (67 / 3024.0)))))
      else if (p.has("R_V"))
        Some(e.a * (1.0 - es * (1 / 6.0 + es * (5 / 72.0 + es * (55 / 1296.0)))))
      else if (p.has("R_a")) Some((e.a + e.b) / 2)
      else if (p.has("R_g")) {
        if (e.a * e.b < 0) throw BadProjString("invalid R_g ellipsoid")
        Some(math.sqrt(e.a * e.b))
      } else if (p.has("R_h")) {
        if (e.a + e.b == 0) throw BadProjString("invalid R_h ellipsoid")
        Some(2 * e.a * e.b / (e.a + e.b))
      } else if (p.has("R_lat_a")) Some(latMean("R_lat_a", arithmetic = true))
      else if (p.has("R_lat_g")) Some(latMean("R_lat_g", arithmetic = false))
      else if (p.has("R_C")) {
        // reference quirk reproduced: ellps_spherification runs BEFORE
        // lat_0 is parsed (init.cpp:568 vs :653), so the conformal-sphere
        // radius is always evaluated at phi0 = 0 — verified against the
        // builtins.gie merc +R_C +lat_0=45 expectations
        if (es >= 1.0) throw BadProjString("invalid eccentricity")
        Some(e.a * math.sqrt(1 - es))
      } else None
    r match {
      case None => e
      case Some(radius) =>
        if (!(radius > 0) || radius.isNaN || radius.isInfinite)
          throw BadProjString("invalid or missing major axis after spherification")
        Ellipsoid(radius, 0.0)
    }
  }

  /** `+init=epsg:NNNN` expansion (classic proj4 init rules: explicit
    * parameters take precedence over the init definition's, which maps
    * to appending the expansion since the token bag is first-wins). */
  private[proj] def expandInit(tokens: List[String]): List[String] =
    if (!tokens.exists(_.startsWith("init="))) tokens
    else {
      val (initToks, rest) = tokens.partition(_.startsWith("init="))
      rest ++ initToks.flatMap { t =>
        val code = t.drop(5).toLowerCase
        EpsgInit.lookup(code) match {
          case Some(d) => tokenize(d)
          case None    => throw Unsupported(s"+init=$code")
        }
      }
    }

  /** Parse a full proj-string (possibly a pipeline) into a kernel. */
  def parse(s: String): PointKernel =
    try parseImpl(s)
    catch {
      // library boundary: malformed numerics anywhere in parameter handling
      // (including kernel constructors) surface typed, never as NFE
      case e: NumberFormatException =>
        throw BadProjString(s"non-numeric parameter: ${e.getMessage}")
    }

  private def parseImpl(s: String): PointKernel = {
    // bare authority code: proj_create accepts "EPSG:4326" directly
    if (s.trim.matches("(?i)epsg:\\d+")) {
      val code = s.trim.toLowerCase
      return parse(EpsgInit.lookup(code).getOrElse(
        throw Unsupported(s"+init=$code")))
    }
    if (Wkt.looksLikeWkt(s)) {
      // WKT CRS text stands anywhere a proj-string can: lower it first
      val crs =
        try Wkt.parseCrs(s)
        catch { case e: Wkt.BadWkt => throw BadProjString(s"WKT: ${e.getMessage}") }
      return parse(crs.projString)
    }
    if (ProjJson.looksLikeProjJson(s)) {
      // PROJJSON text likewise lowers through the same CRS model
      val crs =
        try ProjJson.parseCrs(s)
        catch { case e: ProjJson.BadProjJson =>
          throw BadProjString(s"PROJJSON: ${e.getMessage}") }
      return parse(crs.projString)
    }
    val raw = tokenize(s)
    // pipelines expand +init per step (order within a step matters);
    // only a non-pipeline string expands here
    val tokens = if (raw.contains("step")) raw else expandInit(raw)
    val projIdx = tokens.indexWhere(_.startsWith("proj="))
    if (projIdx < 0) throw BadProjString(s"no +proj= in '$s'")
    val proj = tokens(projIdx).drop(5)
    if (proj == "pipeline") parsePipeline(tokens)
    else {
      val p = toParams(tokens)
      val k = buildOne(proj, p)
      if (p.flags.contains("inv")) InverseKernel(k) else k
    }
  }

  private def parsePipeline(tokens: List[String]): PointKernel = {
    // tokens before the first "step" are globals shared by every step;
    // a global +inv inverts the WHOLE pipeline (reverse order), it is NOT
    // distributed to the steps
    val stepIdx = tokens.indexOf("step")
    if (stepIdx < 0) throw BadProjString("pipeline without steps")
    val globalsAll = tokens.take(stepIdx).filterNot(_ == "proj=pipeline")
    // a +proj= (or +o_proj=) before the first +step is malformed — the
    // reference rejects it (pjd_err_malformed_pipeline; 4D-API fixture
    // "proj= before first step")
    if (globalsAll.exists(t => t.startsWith("proj=") || t.startsWith("o_proj=")))
      throw BadProjString("malformed pipeline: +proj= before the first +step")
    val globalInv = globalsAll.contains("inv")
    val globals = globalsAll.filterNot(_ == "inv")
    val rest = tokens.drop(stepIdx + 1)
    val stepTokenLists = splitSteps(rest)
    val steps = stepTokenLists.map { st =>
      // precedence: step tokens > pipeline globals > +init expansion
      // (first occurrence wins in toParams; the init definition appends
      // last, matching pj_expand_init)
      val p = toParams(expandInit(st ++ globals))
      val proj = p.get("proj").getOrElse(throw BadProjString("step without proj="))
      if (proj == "pipeline")
        throw BadProjString("nested pipelines are not supported")
      var k = buildOne(proj, p)
      if (p.flags.contains("inv")) k = InverseKernel(k)
      if (p.flags.contains("omit_fwd")) k = OmitKernel(k, omitFwd = true)
      else if (p.flags.contains("omit_inv")) k = OmitKernel(k, omitFwd = false)
      k
    }
    // the execution direction implied by the pipeline's own inv flag must
    // have a valid path at build time (reference: pipeline.cpp:533-569 —
    // a step inverted onto a forward-only op is a malformed pipeline)
    def fwdOk(k: PointKernel): Boolean = k match {
      case InverseKernel(inner)      => inner.invertible
      case OmitKernel(inner, true)   => true
      case OmitKernel(inner, false)  => fwdOk(inner)
      case _                         => true
    }
    def invOk(k: PointKernel): Boolean = k match {
      case InverseKernel(_)          => true
      case OmitKernel(_, false)      => true
      case OmitKernel(inner, true)   => invOk(inner)
      case other                     => other.invertible
    }
    if (!globalInv && !steps.forall(fwdOk))
      throw BadProjString("malformed pipeline: no forward path")
    if (globalInv && !steps.forall(invOk))
      throw BadProjString("malformed pipeline: no inverse path")
    val pipe = PipelineKernel(steps.toArray)
    if (globalInv) InverseKernel(pipe) else pipe
  }

  /** Ellipsoid implied by a full proj-string (first-wins token bag) — the
    * gie runner's analogue of comparing with P's own ellipsoid. */
  def ellipsoidOfString(s: String): Ellipsoid =
    try ellipsoidOf(expandDatum(toParams(tokenize(s).filterNot(_ == "step"))))
    catch { case _: Throwable => Ellipsoid.GRS80 }

  private def splitSteps(tokens: List[String]): List[List[String]] = {
    val out = scala.collection.mutable.ListBuffer.empty[List[String]]
    var cur = scala.collection.mutable.ListBuffer.empty[String]
    tokens.foreach { t =>
      if (t == "step") { out += cur.toList; cur = scala.collection.mutable.ListBuffer.empty }
      else cur += t
    }
    out += cur.toList
    out.toList
  }

  private val BannedParams = Set(
    // parameters that change semantics we don't model: reject loudly
    // (-> skip in the gie runner) rather than silently ignoring them.
    "init")

  /** `+datum=` expansion (reference: pj_datum_set, src/init.cpp:563-566 +
    * the registry in src/datums.cpp): inject the datum's towgs84/nadgrids
    * definition and implied ellipsoid unless explicitly overridden. */
  private[proj] def expandDatum(p: Params): Params = p.get("datum") match {
    case None => p
    case Some(d) =>
      val (defn, ellps) = Glue.datums.getOrElse(d, throw Unsupported(s"datum=$d"))
      val i = defn.indexOf('=')
      val (k, v) = (defn.take(i), defn.drop(i + 1))
      var kv = p.kv
      if (!kv.contains(k)) kv += (k -> v)
      if (!kv.contains("ellps") && !kv.contains("a") && !kv.contains("R"))
        kv += ("ellps" -> ellps)
      Params(kv, p.flags)
  }

  /** `+t_final=` value; "now" means the current decimal year
    * (reference: pj_parse_t_final, src/param.cpp:221-256). */
  private def parseTFinal(p: Params): Double = p.get("t_final") match {
    case None => 0.0
    case Some("now") =>
      val cal = java.util.Calendar.getInstance()
      val year = cal.get(java.util.Calendar.YEAR)
      val doy = cal.get(java.util.Calendar.DAY_OF_YEAR) - 1
      val days = if (java.time.Year.of(year).isLeap) 366 else 365
      year + doy / days.toDouble
    case Some(v) => parseDouble(v)
  }

  private def buildOne(proj: String, p0: Params): PointKernel = {
    val p = expandDatum(p0)
    BannedParams.find(b => p.has(b)).foreach(b => throw Unsupported(s"+$b"))
    // central latitude-parameter range check (the reference rejects
    // |lat| > 90 at setup with invalid_op_illegal_arg_value, e.g. the
    // "+proj=aeqd +lat_0=91" fixture) — valid everywhere, so one guard
    for (key <- LatParams; v <- p.angle(key))
      if (math.abs(v) > math.Pi / 2 + 1e-12)
        throw BadProjString(s"|$key| > 90 degrees")
    val core = buildCore(proj, p)
    wrapGlue(core, p, proj)
  }

  private val LatParams = Seq("lat_0", "lat_1", "lat_2", "lat_ts")

  /** Attach the fwd_prepare/fwd_finalize glue (datum shift, prime
    * meridian, axis order, output units) when any of its parameters are
    * present — see [[GlueKernel]]. */
  private def wrapGlue(core: PointKernel, p: Params, proj: String): PointKernel = {
    // proj=axisswap consumes +axis itself
    val axisOpt = (if (proj == "axisswap") None else p.get("axis")).map { a =>
      try Glue.axisOrder(a)
      catch { case e: IllegalArgumentException => throw BadProjString(e.getMessage) }
    }.getOrElse(None)
    val lonWrap = p.get("lon_wrap").map(v => math.toRadians(parseDms(v)))
    val toMeter =
      try p.get("to_meter").map(Glue.parseToMeter)
        .orElse(p.get("units").map(u => UnitConvertKernel.linear.getOrElse(u,
          throw BadProjString(s"unknown unit $u"))))
      catch { case e: IllegalArgumentException => throw BadProjString(e.getMessage) }
    val vToMeter =
      try p.get("vto_meter").map(Glue.parseToMeter)
        .orElse(p.get("vunits").map(u => UnitConvertKernel.linear.getOrElse(u,
          throw BadProjString(s"unknown unit $u"))))
        .orElse(toMeter)
      catch { case e: IllegalArgumentException => throw BadProjString(e.getMessage) }
    // +towgs84 on proj=helmert is not datum glue: the helmert setup
    // consumes it as its own parameter set (helmert.cpp:587-605)
    val towgsGlue = p.has("towgs84") && proj != "helmert"
    val hasDatum = p.has("nadgrids") || towgsGlue || p.has("geoidgrids")
    val hasGeoc = p.flags.contains("geoc")
    val pmOpt = p.get("pm").map { v =>
      val s = Glue.primeMeridians.getOrElse(v, v)
      math.toRadians(parseDms(s))
    }
    if (toMeter.isEmpty && vToMeter.isEmpty && !hasDatum && !hasGeoc &&
        axisOpt.isEmpty && pmOpt.forall(_ == 0.0) && lonWrap.isEmpty)
      return core

    if ((hasDatum || hasGeoc || pmOpt.exists(_ != 0.0)) &&
        core.left != IOUnits.Radians)
      throw Unsupported("datum glue on non-angular operation")

    val ell = ellipsoidOf(p)
    val hglue = p.get("nadgrids").map(s => HgridshiftGlue(HgridshiftKernel(Grids.hgridSets(s))))
    val vglue = p.get("geoidgrids").map(s => VgridshiftKernel(Grids.vgridSets(s)))
    val (cartW, helm, cartL) =
      if (hglue.isEmpty && towgsGlue) {
        val h = try Glue.helmertOfTowgs84(p.get("towgs84").get)
          catch { case e: Exception => throw BadProjString(s"bad towgs84: ${e.getMessage}") }
        (Some(CartKernel(Ellipsoid.WGS84)), h, Some(CartKernel(ell)))
      } else (None, None, None)
    GlueKernel(core,
      hshift = hglue, vshift = vglue,
      cartWgs = cartW, helmert = helm, cartLocal = cartL,
      geoc = if (hasGeoc) Some(GeocLatKernel(ell)) else None,
      axisswap = axisOpt.map(AxisSwapKernel(_)),
      frMeter = 1.0 / toMeter.getOrElse(1.0),
      vfrMeter = 1.0 / vToMeter.getOrElse(1.0),
      fromGreenwich = pmOpt.getOrElse(0.0),
      longWrapCenter = lonWrap.getOrElse(Double.NaN),
      over = p.flags.contains("over"))
  }

  private def buildCore(proj: String, p: Params): PointKernel = {
    val ell = ellipsoidOf(p)
    val lam0 = p.angle("lon_0").getOrElse(0.0)
    val lat0 = p.angle("lat_0").getOrElse(0.0)
    val x0 = p.double("x_0").getOrElse(0.0)
    val y0 = p.double("y_0").getOrElse(0.0)
    val k0 = p.double("k_0").orElse(p.double("k")).getOrElse(1.0)

    proj match {
      case "hgridshift" =>
        val spec = p.get("grids")
          .getOrElse(throw BadProjString("hgridshift needs +grids"))
        HgridshiftKernel(Grids.hgridSets(spec),
          tEpoch = p.double("t_epoch").getOrElse(0.0), tFinal = parseTFinal(p))
      case "vgridshift" =>
        val spec = p.get("grids")
          .getOrElse(throw BadProjString("vgridshift needs +grids"))
        VgridshiftKernel(Grids.vgridSets(spec),
          multiplier = p.double("multiplier").getOrElse(-1.0),
          tEpoch = p.double("t_epoch").getOrElse(0.0), tFinal = parseTFinal(p))
      case "defmodel" =>
        val file = p.get("model")
          .getOrElse(throw BadProjString("defmodel needs +model"))
        DefModelKernel(DefModel.load(file), ell)
      case "xyzgridshift" =>
        val spec = p.get("grids")
          .getOrElse(throw BadProjString("xyzgridshift needs +grids"))
        val refIsInput = p.get("grid_ref") match {
          case None | Some("input_crs") => true
          case Some("output_crs")       => false
          case Some(o) => throw BadProjString(s"unsupported grid_ref $o")
        }
        XyzGridshiftKernel(Grids.genericGridSets(spec), ell,
          gridRefIsInput = refIsInput,
          multiplier = p.double("multiplier").getOrElse(1.0))
      case "deformation" =>
        val hasGrids = p.has("grids")
        val hasXy = p.has("xy_grids")
        val hasZ = p.has("z_grids")
        if (!hasGrids && (!hasXy || !hasZ))
          throw BadProjString("deformation needs +grids or +xy_grids and +z_grids")
        val dtv = p.double("dt")
        val te = p.double("t_epoch")
        if (dtv.isEmpty && te.isEmpty)
          throw BadProjString("deformation needs +dt or +t_epoch")
        if (dtv.isDefined && te.isDefined)
          throw BadProjString("+dt and +t_epoch are mutually exclusive")
        val gen = if (hasGrids) Grids.genericGridSets(p.get("grids").get) else Nil
        val hg = if (!hasGrids) Grids.hgridSets(p.get("xy_grids").get) else Nil
        val vg = if (!hasGrids) Grids.vgridSets(p.get("z_grids").get) else Nil
        DeformationKernel(gen, hg, vg, ell,
          dt = dtv.getOrElse(Double.NaN), tEpoch = te.getOrElse(Double.NaN))
      case "gridshift" =>
        val spec = p.get("grids")
          .getOrElse(throw BadProjString("gridshift needs +grids"))
        val interp = p.get("interpolation").getOrElse("")
        if (interp.nonEmpty && interp != "bilinear" && interp != "biquadratic")
          throw BadProjString("unsupported value for +interpolation")
        GridshiftKernel(Grids.genericGridSets(spec),
          interpolationOverride = interp,
          noZTransform = p.flags.contains("no_z_transform"))
      case "tinshift" =>
        val file = p.get("file")
          .getOrElse(throw BadProjString("tinshift needs +file"))
        TinShiftKernel(TinShift.load(file))
      case "horner" =>
        def coefs(key: String, n: Int): Array[Double] = p.get(key) match {
          case None => null
          case Some(s) =>
            val a = try s.split(',').map(_.trim.toDouble)
              catch { case _: NumberFormatException =>
                throw BadProjString(s"bad $key") }
            if (a.length != n) throw BadProjString(s"$key needs $n coefficients")
            a
        }
        val deg = p.double("deg").map(_.toInt)
          .getOrElse(throw BadProjString("horner needs +deg"))
        if (deg < 0 || deg > 10000) throw BadProjString("horner degree unreasonable")
        val fwdOrigin = Option(coefs("fwd_origin", 2))
          .getOrElse(throw BadProjString("horner needs +fwd_origin"))
        val invOrigin = coefs("inv_origin", 2)
        val range = p.double("range").getOrElse(500000.0)
        val tol = p.double("inv_tolerance").getOrElse(0.001)
        if (p.has("fwd_c") || p.has("inv_c")) {
          val nc = Horner.nComplexCoefs(deg)
          val fwdC = Option(coefs("fwd_c", nc))
            .getOrElse(throw BadProjString("horner missing fwd_c"))
          val invC = coefs("inv_c", nc)
          val hasInv = invC != null || invOrigin != null
          if (hasInv && (invC == null || invOrigin == null))
            throw BadProjString("horner inverse needs inv_c and inv_origin")
          HornerKernel(deg, range, tol, fwdOrigin, invOrigin,
            null, null, null, null, fwdC, invC,
            uneg = p.flags.contains("uneg"), vneg = p.flags.contains("vneg"))
        } else {
          val nr = Horner.nRealCoefs(deg)
          val fwdU = Option(coefs("fwd_u", nr))
            .getOrElse(throw BadProjString("horner missing fwd_u"))
          val fwdV = Option(coefs("fwd_v", nr))
            .getOrElse(throw BadProjString("horner missing fwd_v"))
          val invU = coefs("inv_u", nr)
          val invV = coefs("inv_v", nr)
          val hasInv = invU != null || invV != null || invOrigin != null
          if (hasInv && (invU == null || invV == null || invOrigin == null))
            throw BadProjString("horner inverse needs inv_u, inv_v and inv_origin")
          HornerKernel(deg, range, tol, fwdOrigin, invOrigin,
            fwdU, fwdV, invU, invV, null, null, uneg = false, vneg = false)
        }
      case "noop" => NoopKernel
      case "latlong" | "longlat" | "latlon" | "lonlat" =>
        if (p.has("over")) throw Unsupported("latlong over")
        LatLongKernel(lam0)
      case "ob_tran" =>
        val oProj = p.get("o_proj").getOrElse(throw BadProjString("ob_tran needs o_proj"))
        if (oProj == "ob_tran") throw BadProjString("ob_tran cannot nest itself")
        val (lamp, phip) = PoleRotation.poleOf(p)
        if (oProj == "latlon" || oProj == "latlong" || oProj == "lonlat" ||
            oProj == "longlat")
          ObTranLatlonKernel(lamp, phip, lam0)
        else {
          // build the target from the same params with o_proj -> proj,
          // o_-prefixed and outer-only keys stripped (outer owns
          // lam0/x0/y0/scaling; the inner kernel is used raw)
          val innerKv = p.kv -- Seq("proj", "o_proj", "lon_0", "x_0", "y_0",
            "o_alpha", "o_lon_c", "o_lat_c", "o_lat_p", "o_lon_p",
            "o_lon_1", "o_lat_1", "o_lon_2", "o_lat_2") + ("proj" -> oProj)
          val innerP = Params(innerKv, p.flags - "inv")
          buildOne(oProj, innerP) match {
            case pk: ProjectionKernel =>
              ObTranProjKernel(pk, lamp, phip, lam0, x0, y0)
            case ok if oProj == "helmert" =>
              // helmert exposes a 2D interface only with +theta (2D
              // helmert); a 3D setup instantiates but cannot be applied
              ObTranOpKernel(ok, has2d = p.has("theta"), lamp, phip, lam0)
            case _ => throw Unsupported(s"ob_tran o_proj=$oProj (non-planar target)")
          }
        }
      case "merc" =>
        val latTs = p.angle("lat_ts").getOrElse(0.0)
        if (p.has("lat_ts") && math.abs(latTs) >= M.HalfPi)
          throw BadProjString("merc |lat_ts| >= 90")
        MercKernel(ell, latTs = latTs,
          k0In = k0, lam0 = lam0, x0 = x0, y0 = y0)
      case "webmerc" =>
        MercKernel(Ellipsoid(ell.a, 0.0), latTs = 0.0, k0In = 1.0,
          lam0 = lam0, x0 = x0, y0 = y0)
      case "eqc" =>
        EqcKernel(ell, latTs = p.angle("lat_ts").getOrElse(0.0),
          lat0 = lat0, lam0 = lam0, x0 = x0, y0 = y0)
      case "tmerc" | "etmerc" =>
        // etmerc is ellipsoidal-only in the reference ("only ellipsoidal
        // formulation supported") — a sphere must fail setup, not fall
        // back to the spherical tmerc engine
        if (proj == "etmerc" && ell.isSphere)
          throw BadProjString("etmerc: only ellipsoidal formulation supported")
        val algo =
          if (ell.isSphere) TmercAlgo.Approx
          else if (proj == "etmerc") TmercAlgo.PoderEngsager
          else p.get("algo") match {
            case Some("evenden_snyder") => TmercAlgo.Approx
            case Some("poder_engsager") => TmercAlgo.PoderEngsager
            case Some("auto")           => TmercAlgo.Auto
            case Some(o)                => throw BadProjString(s"algo=$o")
            case None =>
              if (p.flags.contains("approx")) TmercAlgo.Approx
              else TmercAlgo.PoderEngsager
          }
        TmercKernel(ell, lat0 = lat0, lam0 = lam0, k0 = k0, x0 = x0, y0 = y0,
          algo = algo)
      case "utm" =>
        val zone = p.double("zone").map(_.toInt)
          .getOrElse(throw BadProjString("utm needs +zone"))
        if (zone < 1 || zone > 60) throw BadProjString(s"utm zone $zone")
        if (p.has("lat_0") || p.has("x_0") || p.has("y_0"))
          throw BadProjString("utm does not take lat_0/x_0/y_0")
        UtmKernel(zone, south = p.flags.contains("south"), ell = ell)
      case "lcc" =>
        val lat1 = p.angle("lat_1").getOrElse(throw BadProjString("lcc needs lat_1"))
        val lat2 = p.angle("lat_2")
        val phi0 =
          if (p.has("lat_0")) lat0
          else if (lat2.isEmpty) lat1
          else 0.0
        if (math.abs(lat1 + lat2.getOrElse(lat1)) < 1e-10)
          throw BadProjString("lcc |lat_1 + lat_2| ~ 0")
        if (math.abs(lat1) >= M.HalfPi || lat2.exists(l => math.abs(l) >= M.HalfPi))
          throw BadProjString("lcc |lat| >= 90")
        LccKernel(ell, lat1 = lat1, lat2Opt = lat2, lat0 = phi0,
          lam0 = lam0, k0 = k0, x0 = x0, y0 = y0)
      case "omerc" =>
        val noRot = p.flags.contains("no_rot")
        val noOff = p.flags.contains("no_off") || p.flags.contains("no_uoff")
        if (p.has("alpha") || p.has("gamma"))
          OmercKernel.fromAzimuth(ell, lat0 = lat0,
            lonc = p.angle("lonc").getOrElse(0.0),
            alphaOpt = p.angle("alpha"), gammaOpt = p.angle("gamma"),
            k0 = k0, x0 = x0, y0 = y0, noOff = noOff, noRot = noRot)
        else
          try OmercKernel.fromTwoPoints(ell, lat0 = lat0,
            lam1 = p.angle("lon_1").getOrElse(0.0),
            phi1 = p.angle("lat_1").getOrElse(0.0),
            lam2 = p.angle("lon_2").getOrElse(0.0),
            phi2 = p.angle("lat_2").getOrElse(0.0),
            k0 = k0, x0 = x0, y0 = y0, noRot = noRot)
          catch { // degenerate defining points (lat_1=0, coincident, polar)
            // are a typed config error, same as the reference's -20 codes
            case e: IllegalArgumentException =>
              throw BadProjString(s"omerc two-point: ${e.getMessage}")
          }
      case "krovak" | "mod_krovak" =>
        // angle(), not parseDms: the dmstor 'r' radian suffix is legal here
        if (math.abs(p.angle("lat_0").getOrElse(math.toRadians(49.5))) >=
            math.toRadians(90.0))
          throw BadProjString("krovak |lat_0| >= 90")
        KrovakKernel(
          lat0In = p.angle("lat_0").getOrElse(Double.NaN),
          lam0In = p.angle("lon_0").getOrElse(Double.NaN),
          k0In = p.double("k_0").orElse(p.double("k")).getOrElse(Double.NaN),
          czech = p.flags.contains("czech"), userRa = ell.ra,
          modified = proj == "mod_krovak",
          x0 = x0, y0 = y0)
      case "calcofi" => CalcofiKernel(ell)
      case "ccon" =>
        val l1 = p.angle("lat_1").getOrElse(throw BadProjString("ccon needs lat_1"))
        if (math.abs(l1) < 1e-10) throw BadProjString("ccon |lat_1| must be > 0")
        CconKernel(ell, phi1 = l1, lam0 = lam0, x0 = x0, y0 = y0)
      case "bertin1953" =>
        Bertin1953Kernel(Ellipsoid(ell.a, 0.0), x0 = x0, y0 = y0)
      case "sch" =>
        val plat = p.angle("plat_0").getOrElse(throw BadProjString("sch needs plat_0"))
        val plon = p.angle("plon_0").getOrElse(throw BadProjString("sch needs plon_0"))
        val phdg = p.angle("phdg_0").getOrElse(throw BadProjString("sch needs phdg_0"))
        SchKernel(ell, plat = plat, plon = plon, phdg = phdg,
          h0 = p.double("h_0").getOrElse(0.0))
      case "guyou" | "peirce_q" | "adams_hemi" | "adams_ws1" | "adams_ws2" =>
        val mode = proj match {
          case "guyou"      => AdamsMode.Guyou
          case "peirce_q"   => AdamsMode.PeirceQ
          case "adams_hemi" => AdamsMode.AdamsHemi
          case "adams_ws1"  => AdamsMode.AdamsWs1
          case _            => AdamsMode.AdamsWs2
        }
        val shape = p.get("shape") match {
          case Some("square")      => PeirceShape.Square
          case Some("diamond") | None => PeirceShape.Diamond
          case Some("nhemisphere") => PeirceShape.NHemisphere
          case Some("shemisphere") => PeirceShape.SHemisphere
          case Some("horizontal")  => PeirceShape.Horizontal
          case Some("vertical")    => PeirceShape.Vertical
          case Some(o)             => throw BadProjString(s"peirce_q shape=$o")
        }
        val sx = p.double("scrollx").getOrElse(0.0)
        if (math.abs(sx) > 1) throw BadProjString("|scrollx| > 1")
        val sy = p.double("scrolly").getOrElse(0.0)
        if (math.abs(sy) > 1) throw BadProjString("|scrolly| > 1")
        AdamsKernel(ell, mode, pqShape = shape, scrollX = sx, scrollY = sy,
          lam0 = lam0, x0 = x0, y0 = y0)
      case "spilhaus" =>
        SpilhausKernel(ell,
          lat0 = if (p.has("lat_0")) lat0 else math.toRadians(-49.56371678),
          azimuth = p.angle("azi").getOrElse(math.toRadians(40.17823482)),
          rotation = p.angle("rot").getOrElse(math.toRadians(45.0)),
          k0 = k0,
          lam0 = if (p.has("lon_0")) lam0 else math.toRadians(66.94970198),
          x0 = x0, y0 = y0)
      case "qsc" =>
        QscKernel(ell,
          lat0Deg = p.angle("lat_0").map(math.toDegrees).getOrElse(0.0),
          lon0Deg = p.angle("lon_0").map(math.toDegrees).getOrElse(0.0),
          lam0 = lam0, x0 = x0, y0 = y0)
      case "somerc" =>
        SomercKernel(ell, lat0 = lat0, k0 = k0, lam0 = lam0, x0 = x0, y0 = y0)
      case "eck1" => Eck1Kernel(ell, lam0, x0, y0)
      case "eck2" => Eck2Kernel(ell, lam0, x0, y0)
      case "eck3" => Eck3Kernel.eck3(ell, lam0, x0, y0)
      case "eck4" => Eck4Kernel(ell, lam0, x0, y0)
      case "eck5" => Eck5Kernel(ell, lam0, x0, y0)
      case "eck6" => GnSinuKernel.eck6(ell, lam0, x0, y0)
      case "mbtfps" => GnSinuKernel.mbtfps(ell, lam0, x0, y0)
      case "gn_sinu" =>
        val n = p.double("n").getOrElse(throw BadProjString("gn_sinu needs n"))
        val m = p.double("m").getOrElse(throw BadProjString("gn_sinu needs m"))
        if (n <= 0) throw BadProjString("gn_sinu n must be > 0")
        if (m < 0) throw BadProjString("gn_sinu m must be >= 0")
        GnSinuKernel(ell, m, n, lam0, x0, y0)
      case "kav7"  => Eck3Kernel.kav7(ell, lam0, x0, y0)
      case "wag6"  => Eck3Kernel.wag6(ell, lam0, x0, y0)
      case "putp1" => Eck3Kernel.putp1(ell, lam0, x0, y0)
      case "urmfps" =>
        val n = p.double("n").getOrElse(throw BadProjString("urmfps needs n"))
        if (n <= 0 || n > 1) throw BadProjString("urmfps n outside ]0,1]")
        UrmfpsKernel(ell, n, lam0, x0, y0)
      case "wag1" =>
        UrmfpsKernel(ell, 0.8660254037844386467637231707, lam0, x0, y0)
      case "wag2" => Wag2Kernel(ell, lam0, x0, y0)
      case "wag3" =>
        Wag3Kernel(ell, latTs = p.angle("lat_ts").getOrElse(0.0),
          lam0 = lam0, x0 = x0, y0 = y0)
      case "wag4" => MollFamilyKernel.wag4(ell, lam0, x0, y0)
      case "wag5" => MollFamilyKernel.wag5(ell, lam0, x0, y0)
      case "wag7" => Wag7Kernel(ell, lam0, x0, y0)
      case "mill" => MillKernel(ell, lam0, x0, y0)
      case "gall" => GallKernel(ell, lam0, x0, y0)
      case "cc"   => CcKernel(ell, lam0, x0, y0)
      case "comill" => ComillKernel(ell, lam0, x0, y0)
      case "patterson" => PattersonKernel(ell, lam0, x0, y0)
      case "natearth" => NatearthKernel(ell, lam0, x0, y0)
      case "natearth2" => Natearth2Kernel(ell, lam0, x0, y0)
      case "fahey" => FaheyKernel(ell, lam0, x0, y0)
      case "collg" => CollgKernel(ell, lam0, x0, y0)
      case "crast" => CrastKernel(ell, lam0, x0, y0)
      case "loxim" =>
        val phi1 = p.angle("lat_1").getOrElse(0.0)
        if (math.cos(phi1) < 1e-8)
          throw BadProjString("loxim |lat_1| must be < 90")
        LoximKernel(ell, phi1, lam0, x0, y0)
      case "nell"   => NellKernel(ell, lam0, x0, y0)
      case "nell_h" => NellHKernel(ell, lam0, x0, y0)
      case "wink1" =>
        Wink1Kernel(ell, latTs = p.angle("lat_ts").getOrElse(0.0),
          lam0 = lam0, x0 = x0, y0 = y0)
      case "wink2" =>
        Wink2Kernel(ell, phi1 = p.angle("lat_1").getOrElse(0.0),
          lam0 = lam0, x0 = x0, y0 = y0)
      case "putp2"  => Putp2Kernel(ell, lam0, x0, y0)
      case "putp3"  => Putp3Kernel.putp3(ell, lam0, x0, y0)
      case "putp3p" => Putp3Kernel.putp3p(ell, lam0, x0, y0)
      case "putp4p" => Putp4pKernel.putp4p(ell, lam0, x0, y0)
      case "weren"  => Putp4pKernel.weren(ell, lam0, x0, y0)
      case "putp5"  => Putp5Kernel(ell, 2.0, 1.0, lam0, x0, y0)
      case "putp5p" => Putp5Kernel(ell, 1.5, 0.5, lam0, x0, y0)
      case "putp6"  => Putp6Kernel.putp6(ell, lam0, x0, y0)
      case "putp6p" => Putp6Kernel.putp6p(ell, lam0, x0, y0)
      case "mbtfpp" => MbtfppKernel(ell, lam0, x0, y0)
      case "mbtfpq" => MbtfpqKernel(ell, lam0, x0, y0)
      case "mbt_fps" => MbtFpsKernel(ell, lam0, x0, y0)
      case "tcc"  => TccKernel(ell, lam0, x0, y0)
      case "tcea" => TceaKernel(ell, lat0 = lat0, k0 = k0, lam0 = lam0,
        x0 = x0, y0 = y0)
      case "aitoff" =>
        AitoffKernel(ell, winkel = false, lam0 = lam0, x0 = x0, y0 = y0)
      case "wintri" =>
        val cosphi1 = p.angle("lat_1") match {
          case Some(a) =>
            val c = math.cos(a)
            if (c == 0.0) throw BadProjString("wintri |lat_1| must be < 90")
            c
          case None => 0.636619772367581343 // acos(2/pi)
        }
        AitoffKernel(ell, winkel = true, cosphi1 = cosphi1,
          lam0 = lam0, x0 = x0, y0 = y0)
      case "isea" =>
        val orient = p.get("orient")
        if (orient.exists(o => o != "isea" && o != "pole"))
          throw BadProjString("isea orient must be isea|pole")
        val mode = p.get("mode").getOrElse("plane")
        if (!Set("plane", "di", "dd", "hex").contains(mode))
          throw BadProjString("isea mode must be plane|di|dd|hex")
        IseaKernel(ell,
          orientPole = orient.contains("pole"),
          orientSet = orient.isDefined,
          oAzIn = p.angle("azi").getOrElse(0.0),
          oLonIn = p.angle("lon_0"), oLatIn = p.angle("lat_0"),
          mode = mode,
          resolution = p.double("resolution").map(_.toInt).getOrElse(4),
          aperture = p.double("aperture").map(_.toInt).getOrElse(3),
          lam0 = 0.0, x0 = x0, y0 = y0)
      case "airocean" =>
        val horiz = p.get("orient") match {
          case Some("horizontal") => true
          case Some("vertical") | None => false
          case Some(_) => throw BadProjString("airocean orient must be vertical|horizontal")
        }
        AiroceanKernel(ell, horizontal = horiz, lam0 = lam0, x0 = x0, y0 = y0)
      case "lcca" =>
        if (lat0 == 0.0) throw BadProjString("lcca lat_0 must not be 0")
        LccaKernel(ell, lat0 = lat0, k0 = k0, lam0 = lam0, x0 = x0, y0 = y0)
      case "rouss" =>
        RoussKernel(ell, lat0 = lat0, k0 = k0, lam0 = lam0, x0 = x0, y0 = y0)
      case "gstmerc" =>
        GstmercKernel(ell, lat0 = lat0, k0 = k0, lam0 = lam0, x0 = x0, y0 = y0)
      case "labrd" =>
        if (lat0 == 0.0) throw BadProjString("labrd lat_0 must not be 0")
        LabrdKernel(ell, lat0 = lat0, azi = p.angle("azi").getOrElse(0.0),
          k0 = k0, lam0 = lam0, x0 = x0, y0 = y0)
      case "nzmg" =>
        // fixed Earth: International a, NZ origin + false offsets forced
        NzmgKernel(Ellipsoid(6378388.0, 0.0),
          lam0 = math.toRadians(173.0), x0 = 2510000.0, y0 = 6023150.0)
      case "col_urban" =>
        ColUrbanKernel(ell, lat0 = lat0,
          h0Unscaled = p.double("h_0").getOrElse(0.0),
          lam0 = lam0, x0 = x0, y0 = y0)
      case "chamb" =>
        val lats = Array(1, 2, 3).map(i => p.angle(s"lat_$i").getOrElse(0.0))
        val lons = Array(1, 2, 3).map(i => p.angle(s"lon_$i").getOrElse(0.0))
        try ChambKernel(ell, lats, lons, lam0 = lam0, x0 = x0, y0 = y0)
        catch {
          case e: IllegalArgumentException => throw BadProjString(e.getMessage)
        }
      case "bipc" =>
        BipcKernel(ell, noskew = p.has("ns"), lam0, x0, y0)
      case "imw_p" =>
        val p1 = p.angle("lat_1").getOrElse(throw BadProjString("imw_p needs lat_1"))
        val p2 = p.angle("lat_2").getOrElse(throw BadProjString("imw_p needs lat_2"))
        if (math.abs(0.5 * (p2 - p1)) < 1e-10 || math.abs(0.5 * (p2 + p1)) < 1e-10)
          throw BadProjString("imw_p |lat_1-lat_2| and |lat_1+lat_2| must be > 0")
        ImwPKernel(ell, p1, p2, p.angle("lon_1"), lam0, x0, y0)
      case "mil_os" => ModSterKernel.milOs(ell, x0, y0)
      case "lee_os" => ModSterKernel.leeOs(ell, x0, y0)
      case "gs48"   => ModSterKernel.gs48(ell, x0, y0)
      case "alsk"   => ModSterKernel.alsk(ell, x0, y0)
      case "gs50"   => ModSterKernel.gs50(ell, x0, y0)
      case "fouc_s" =>
        val n = p.double("n").getOrElse(0.0)
        if (n < 0 || n > 1) throw BadProjString("fouc_s n outside [0,1]")
        FoucSKernel(ell, n, lam0, x0, y0)
      case "robin"  => RobinKernel(ell, lam0, x0, y0)
      case "times"  => TimesKernel(ell, lam0, x0, y0)
      case "hatano" => HatanoKernel(ell, lam0, x0, y0)
      case "goode"  => GoodeKernel(ell, lam0, x0, y0)
      case "igh"    => IghKernel(ell, oceanic = false, lam0, x0, y0)
      case "igh_o"  => IghKernel(ell, oceanic = true, lam0, x0, y0)
      case "imoll"  => ImollKernel(ell, oceanic = false, lam0, x0, y0)
      case "imoll_o" => ImollKernel(ell, oceanic = true, lam0, x0, y0)
      case "oea" =>
        val n = p.double("n").getOrElse(0.0)
        val m = p.double("m").getOrElse(0.0)
        if (n <= 0) throw BadProjString("oea n must be > 0")
        if (m <= 0) throw BadProjString("oea m must be > 0")
        OeaKernel(ell, n, m, theta = p.angle("theta").getOrElse(0.0),
          lat0 = lat0, lam0 = lam0, x0 = x0, y0 = y0)
      case "vandg2" => Vandg2Kernel(ell, vdg3 = false, lam0, x0, y0)
      case "vandg3" => Vandg2Kernel(ell, vdg3 = true, lam0, x0, y0)
      case "vandg4" => Vandg4Kernel(ell, lam0, x0, y0)
      case "bacon" => BaconKernel(ell, bacn = true, ortl = false, lam0, x0, y0)
      case "apian" => BaconKernel(ell, bacn = false, ortl = false, lam0, x0, y0)
      case "ortel" => BaconKernel(ell, bacn = false, ortl = true, lam0, x0, y0)
      case "rpoly" =>
        RpolyKernel(ell, latTs = p.angle("lat_ts").getOrElse(0.0),
          lat0 = lat0, lam0 = lam0, x0 = x0, y0 = y0)
      case "boggs" => BoggsKernel(ell, lam0, x0, y0)
      case "denoy" => DenoyKernel(ell, lam0, x0, y0)
      case "nicol" => NicolKernel(ell, lam0, x0, y0)
      case "august" => AugustKernel(ell, lam0, x0, y0)
      case "lask"  => LaskKernel(ell, lam0, x0, y0)
      case "gins8" => Gins8Kernel(ell, lam0, x0, y0)
      case "larr"  => LarrKernel(ell, lam0, x0, y0)
      case "som" =>
        // asc_lon replaces lon_0 outright (the reference overwrites lam0)
        val ascLon = p.angle("asc_lon").getOrElse(0.0)
        val incAngle = p.angle("inc_angle").getOrElse(0.0)
        val psRev = p.double("ps_rev").getOrElse(0.0)
        if (ascLon < -M.TwoPi || ascLon > M.TwoPi)
          throw BadProjString("som asc_lon outside [-2pi,2pi]")
        if (incAngle < 0 || incAngle > math.Pi)
          throw BadProjString("som inc_angle outside [0,pi]")
        if (psRev < 0) throw BadProjString("som ps_rev negative")
        SomKernel.som(ell, incAngle, psRev, ascLon, x0 = x0, y0 = y0)
      case "misrsom" =>
        val path = p.double("path").getOrElse(0.0).toInt
        if (path <= 0 || path > 233)
          throw BadProjString("misrsom path outside [1,233]")
        SomKernel.misrsom(ell, path, x0 = x0, y0 = y0)
      case "lsat" =>
        val land = p.double("lsat").getOrElse(0.0).toInt
        if (land <= 0 || land > 5)
          throw BadProjString("lsat outside [1,5]")
        val path = p.double("path").getOrElse(0.0).toInt
        val maxPath = if (land <= 3) 251 else 233
        if (path <= 0 || path > maxPath)
          throw BadProjString(s"lsat path outside [1,$maxPath]")
        SomKernel.lsat(ell, land, path, x0 = x0, y0 = y0)
      case "poly" =>
        PolyKernel(ell, lat0 = lat0, lam0 = lam0, x0 = x0, y0 = y0)
      case "geocent" =>
        // 3D geocentric marker: geodetic (rad,rad,m) <-> cartesian, the
        // cart math applied by finalize in the reference (is_geocent)
        CartKernel(ell)
      case "euler" | "murd1" | "murd2" | "murd3" | "pconic" | "tissot" | "vitk1" =>
        val l1 = p.angle("lat_1").getOrElse(throw BadProjString(s"$proj needs lat_1"))
        val l2 = p.angle("lat_2").getOrElse(throw BadProjString(s"$proj needs lat_2"))
        val typ = proj match {
          case "euler"  => SconicType.Euler
          case "murd1"  => SconicType.Murd1
          case "murd2"  => SconicType.Murd2
          case "murd3"  => SconicType.Murd3
          case "pconic" => SconicType.Pconic
          case "tissot" => SconicType.Tissot
          case _        => SconicType.Vitk1
        }
        SconicKernel(ell, typ, lat1 = l1, lat2 = l2, lat0 = lat0,
          lam0 = lam0, x0 = x0, y0 = y0)
      case "fouc"    => StsKernel.fouc(ell, lam0, x0, y0)
      case "kav5"    => StsKernel.kav5(ell, lam0, x0, y0)
      case "qua_aut" => StsKernel.quaAut(ell, lam0, x0, y0)
      case "mbt_s"   => StsKernel.mbtS(ell, lam0, x0, y0)
      case "hammer" =>
        val wv = p.double("W").map(math.abs).getOrElse(0.5)
        if (wv <= 0) throw BadProjString("hammer W <= 0")
        val mv = p.double("M").map(math.abs).getOrElse(1.0)
        if (mv <= 0) throw BadProjString("hammer M <= 0")
        HammerKernel(ell, wIn = wv, mIn = mv, lam0 = lam0, x0 = x0, y0 = y0)
      case "tobmerc" =>
        TobMercKernel(ell, k0 = k0, lam0 = lam0, x0 = x0, y0 = y0)
      case "geos" =>
        val hn = p.double("h").getOrElse(0.0) / ell.a
        if (hn <= 0 || hn > 1e10) throw BadProjString("geos invalid h")
        val flip = p.get("sweep") match {
          case Some("x") => true
          case Some("y") | None => false
          case Some(o) => throw BadProjString(s"geos sweep=$o")
        }
        GeosKernel(ell, heightNorm = hn, flipAxis = flip,
          lam0 = lam0, x0 = x0, y0 = y0)
      case "rhealpix" =>
        val ns = p.double("north_square").map(_.toInt).getOrElse(0)
        val ss = p.double("south_square").map(_.toInt).getOrElse(0)
        if (ns < 0 || ns > 3) throw BadProjString("north_square outside [0,3]")
        if (ss < 0 || ss > 3) throw BadProjString("south_square outside [0,3]")
        RHealpixKernel(ell, northSquare = ns, southSquare = ss,
          lam0 = lam0, x0 = x0, y0 = y0)
      case "healpix" =>
        HealpixKernel(ell,
          rotXyDeg = p.double("rot_xy").getOrElse(0.0),
          lam0 = lam0, x0 = x0, y0 = y0)
      case "ocea" =>
        if (p.has("alpha"))
          OceaKernel.fromAzimuth(ell, lat0 = lat0,
            lonc = p.angle("lonc").getOrElse(0.0),
            alphaIn = p.angle("alpha").get, k0 = k0, x0 = x0, y0 = y0)
        else
          OceaKernel.fromTwoPoints(ell,
            phi1 = p.angle("lat_1").getOrElse(0.0),
            lam1 = p.angle("lon_1").getOrElse(0.0),
            phi2 = p.angle("lat_2").getOrElse(0.0),
            lam2 = p.angle("lon_2").getOrElse(0.0),
            k0 = k0, x0 = x0, y0 = y0)
      case "tpeqd" =>
        TpeqdKernel(ell,
          phi1 = p.angle("lat_1").getOrElse(0.0),
          lam1 = p.angle("lon_1").getOrElse(0.0),
          phi2 = p.angle("lat_2").getOrElse(0.0),
          lam2 = p.angle("lon_2").getOrElse(0.0),
          x0 = x0, y0 = y0)
      case "vandg" =>
        VandgKernel(ell, lam0 = lam0, x0 = x0, y0 = y0,
          over = p.flags.contains("over"))
      case "eqearth" =>
        EqEarthKernel(ell, lam0 = lam0, x0 = x0, y0 = y0)
      case "urm5" =>
        val n = p.double("n").getOrElse(throw BadProjString("urm5 needs n"))
        if (n <= 0 || n > 1) throw BadProjString("urm5 n outside ]0,1]")
        Urm5Kernel(ell, n = n, q = p.double("q").getOrElse(0.0),
          alpha = p.angle("alpha").getOrElse(0.0),
          lam0 = lam0, x0 = x0, y0 = y0)
      case "lagrng" =>
        val w = p.double("W").getOrElse(2.0)
        if (w <= 0) throw BadProjString("lagrng W <= 0")
        LagrngKernel(ell, w = w, lat1 = p.angle("lat_1").getOrElse(0.0),
          lam0 = lam0, x0 = x0, y0 = y0)
      case "nsper" | "tpers" =>
        val hn = p.double("h").getOrElse(0.0) / ell.a
        if (hn <= 0 || hn > 1e10) throw BadProjString("nsper invalid h")
        NsperKernel(ell, heightNorm = hn, lat0 = lat0,
          tilt = p.angle("tilt").getOrElse(0.0),
          azi = p.angle("azi").getOrElse(0.0),
          hasTilt = proj == "tpers",
          lam0 = lam0, x0 = x0, y0 = y0)
      case "airy" =>
        AiryKernel(ell, lat0 = lat0,
          latB = p.angle("lat_b").getOrElse(0.0),
          noCut = p.flags.contains("no_cut"),
          lam0 = lam0, x0 = x0, y0 = y0)
      case "ortho" =>
        OrthoKernel(ell, lat0 = lat0,
          alpha = p.angle("alpha").getOrElse(0.0),
          k0 = k0, lam0 = lam0, x0 = x0, y0 = y0)
      case "cass" =>
        if (p.has("alpha")) throw Unsupported("cass +alpha")
        CassKernel(ell, lat0 = lat0,
          hyperbolic = p.flags.contains("hyperbolic"),
          lam0 = lam0, x0 = x0, y0 = y0)
      case "sterea" =>
        if (p.has("alpha")) throw Unsupported("sterea +alpha")
        StereaKernel(ell, lat0 = lat0, k0 = k0, lam0 = lam0, x0 = x0, y0 = y0)
      case other if p.has("alpha") && other != "ortho" =>
        throw Unsupported(s"+alpha on $other")
      case "s2" =>
        val uvToSt = p.get("UVtoST") match {
          case Some("linear")    => S2UvToSt.Linear
          case Some("quadratic") => S2UvToSt.Quadratic
          case Some("tangent")   => S2UvToSt.Tangent
          case Some("none")      => S2UvToSt.None_
          case Some(o)           => throw BadProjString(s"UVtoST=$o")
          case None              => S2UvToSt.Quadratic
        }
        S2Kernel(ell,
          lat0Deg = p.angle("lat_0").map(math.toDegrees).getOrElse(0.0),
          lon0Deg = p.angle("lon_0").map(math.toDegrees).getOrElse(0.0),
          uvToSt = uvToSt, x0 = x0, y0 = y0)
      case "cea" =>
        CeaKernel(ell, latTs = p.angle("lat_ts").getOrElse(0.0),
          k0In = k0, lam0 = lam0, x0 = x0, y0 = y0,
          latTsSet = p.has("lat_ts"))
      case "gnom" =>
        if (ell.isSphere) GnomKernel(ell, lat0 = lat0, lam0 = lam0, x0 = x0, y0 = y0)
        else GnomEllKernel(ell, lat0 = lat0, lam0 = lam0, x0 = x0, y0 = y0)
      case "moll" =>
        MollKernel(ell, lam0 = lam0, x0 = x0, y0 = y0)
      case "sinu" =>
        SinuKernel(ell, lam0 = lam0, x0 = x0, y0 = y0)
      case "eqdc" =>
        val l1 = p.angle("lat_1").getOrElse(0.0)
        val l2 = p.angle("lat_2").getOrElse(0.0)
        if (math.abs(l1 + l2) < 1e-10) throw BadProjString("eqdc lat_1+lat_2 ~ 0")
        if (math.abs(l1) > M.HalfPi || math.abs(l2) > M.HalfPi)
          throw BadProjString("eqdc |lat| > 90")
        EqdcKernel(ell, lat1 = l1, lat2 = l2, lat0 = lat0,
          lam0 = lam0, x0 = x0, y0 = y0)
      case "bonne" =>
        val l1 = p.angle("lat_1").getOrElse(throw BadProjString("bonne needs lat_1"))
        if (math.abs(l1) < 1e-10) throw BadProjString("bonne |lat_1| ~ 0")
        BonneKernel(ell, lat1 = l1, lam0 = lam0, x0 = x0, y0 = y0)
      case "stere" =>
        StereKernel(ell, lat0 = lat0,
          latTsIn = p.angle("lat_ts").getOrElse(M.HalfPi),
          k0 = k0, lam0 = lam0, x0 = x0, y0 = y0)
      case "ups" =>
        if (ell.isSphere) throw BadProjString("ups needs an ellipsoid")
        UpsKernel(south = p.flags.contains("south"), ell = ell)
      case "aea" | "leac" =>
        val (l1, l2) =
          if (proj == "aea")
            (p.angle("lat_1").getOrElse(0.0), p.angle("lat_2").getOrElse(0.0))
          else
            (if (p.flags.contains("south")) -M.HalfPi else M.HalfPi,
              p.angle("lat_1").getOrElse(0.0))
        if (math.abs(l1 + l2) < 1e-10) throw BadProjString("aea lat_1+lat_2 ~ 0")
        if (math.abs(l1) > M.HalfPi || math.abs(l2) > M.HalfPi)
          throw BadProjString("aea |lat| > 90")
        AeaKernel(ell, lat1 = l1, lat2 = l2, lat0 = lat0,
          lam0 = lam0, x0 = x0, y0 = y0)
      case "laea" =>
        if (math.abs(lat0) > M.HalfPi + 1e-10)
          throw BadProjString("laea |lat_0| > 90")
        LaeaKernel(ell, lat0 = lat0, lam0 = lam0, x0 = x0, y0 = y0)
      case "aeqd" =>
        if (p.flags.contains("guam") || p.has("guam"))
          GuamKernel(ell, lat0 = lat0, lam0 = lam0, x0 = x0, y0 = y0)
        else
          AeqdKernel(ell, lat0 = lat0, lam0 = lam0, x0 = x0, y0 = y0)
      case "affine" =>
        def d(k: String, dflt: Double) = p.double(k).getOrElse(dflt)
        AffineKernel(
          xoff = d("xoff", 0), yoff = d("yoff", 0), zoff = d("zoff", 0),
          toff = d("toff", 0),
          s11 = d("s11", 1), s12 = d("s12", 0), s13 = d("s13", 0),
          s21 = d("s21", 0), s22 = d("s22", 1), s23 = d("s23", 0),
          s31 = d("s31", 0), s32 = d("s32", 0), s33 = d("s33", 1),
          tscale = d("tscale", 1))
      case "vertoffset" =>
        VertOffsetKernel(ell, lat0 = lat0, lon0 = lam0,
          dh = p.double("dh").getOrElse(0.0),
          slopeLat = p.double("slope_lat").getOrElse(0.0) * M.ArcSecToRad,
          slopeLon = p.double("slope_lon").getOrElse(0.0) * M.ArcSecToRad)
      case "molobadekas" =>
        val as = M.ArcSecToRad
        MolodenskyBadekasKernel(
          x = p.double("x").getOrElse(0.0), y = p.double("y").getOrElse(0.0),
          z = p.double("z").getOrElse(0.0),
          rx = p.double("rx").getOrElse(0.0) * as,
          ry = p.double("ry").getOrElse(0.0) * as,
          rz = p.double("rz").getOrElse(0.0) * as,
          s = p.double("s").getOrElse(0.0),
          px = p.double("px").getOrElse(0.0),
          py = p.double("py").getOrElse(0.0),
          pz = p.double("pz").getOrElse(0.0),
          exact = p.flags.contains("exact"),
          positionVector = p.get("convention") match {
            case Some("position_vector")  => true
            case Some("coordinate_frame") => false
            case Some(o)                  => throw BadProjString(s"convention=$o")
            case None => throw BadProjString("molobadekas needs convention")
          })
      case "set" =>
        // bare +proj=set is a valid identity in the reference
        SetKernel((1 to 4).flatMap(i =>
          p.double(s"v_$i").map(v => (i - 1, v))).toArray)
      case "push" | "pop" =>
        val mask = Array.tabulate(4)(i => p.flags.contains(s"v_${i + 1}"))
        if (!mask.exists(identity)) throw BadProjString(s"$proj without v_n")
        if (proj == "push") PushKernel(mask) else PopKernel(mask)
      case "cart" => CartKernel(ell)
      case "topocentric" =>
        val xyz =
          if (p.has("X_0")) Some((
            p.double("X_0").getOrElse(throw BadProjString("missing X_0")),
            p.double("Y_0").getOrElse(throw BadProjString("missing Y_0")),
            p.double("Z_0").getOrElse(throw BadProjString("missing Z_0"))))
          else None
        val llh =
          if (xyz.isEmpty) {
            if (!p.has("lon_0")) throw BadProjString("missing X_0 or lon_0")
            if (!p.has("lat_0")) throw BadProjString("missing lat_0")
            Some((lam0, lat0, p.double("h_0").getOrElse(0.0)))
          } else {
            if (p.has("lon_0") || p.has("lat_0") || p.has("h_0"))
              throw BadProjString("topocentric XYZ and LLH origins are exclusive")
            None
          }
        TopocentricKernel(ell, xyz, llh)
      case "molodensky" =>
        if (!p.has("dx") || !p.has("dy") || !p.has("dz") ||
            !p.has("da") || !p.has("df"))
          throw BadProjString("molodensky needs dx,dy,dz,da,df")
        MolodenskyKernel(ell,
          dx = p.double("dx").get, dy = p.double("dy").get,
          dz = p.double("dz").get, da = p.double("da").get,
          df = p.double("df").get,
          abridged = p.flags.contains("abridged"))
      case "geoc" => GeocLatKernel(ell)
      case "geogoffset" =>
        OffsetKernel(
          p.double("dlon").getOrElse(0.0) * M.ArcSecToRad,
          p.double("dlat").getOrElse(0.0) * M.ArcSecToRad,
          p.double("dh").getOrElse(0.0))
      case "axisswap" =>
        // +order (output order) or +axis (input letters); one of the two,
        // not both (axisswap.cpp:64-140)
        (p.get("order"), p.get("axis")) match {
          case (Some(_), Some(_)) =>
            throw BadProjString("axisswap takes order or axis, not both")
          case (Some(order), None) =>
            AxisSwapKernel(order.split(",").map(_.trim.toInt))
          case (None, Some(a)) =>
            val order = try Glue.axisOrder(a)
              catch { case e: IllegalArgumentException =>
                throw BadProjString(e.getMessage) }
            AxisSwapKernel(order.getOrElse(Array(1, 2, 3)))
          case (None, None) => throw BadProjString("axisswap needs order or axis")
        }
      case "unitconvert" =>
        def timeId(k: String): Int = p.get(k) match {
          case None => -1
          case Some(u) => TimeUnits.ids.getOrElse(u,
            throw BadProjString(s"unknown time unit $u"))
        }
        val (tIn, tOut) = (timeId("t_in"), timeId("t_out"))
        try UnitConvertKernel.build(p.get("xy_in"), p.get("xy_out"),
          p.get("z_in"), p.get("z_out")) match {
          case Right(k)  => k.copy(tIn = tIn, tOut = tOut)
          case Left(err) => throw BadProjString(err)
        } catch {
          case UnitConvertKernel.UnknownUnit(u) =>
            throw BadProjString(s"unknown unit $u")
        }
      case "helmert" =>
        val as = M.ArcSecToRad
        val fourParam = p.has("theta")
        // classic +towgs84= on helmert: the 3/7 values override any
        // explicit x..rz (copied over them, helmert.cpp:587-605), always
        // in the position_vector convention — pairing it with
        // convention=coordinate_frame is rejected (helmert.cpp:542-549);
        // an explicit +s= still wins (read after the towgs84 copy)
        val tw: Option[Array[Double]] = p.get("towgs84").map { s =>
          val a = try s.split(',').map(_.trim.toDouble)
            catch { case _: NumberFormatException =>
              throw BadProjString(s"bad towgs84: $s") }
          if (a.length != 3 && a.length != 7)
            throw BadProjString(s"towgs84 needs 3 or 7 values, got ${a.length}")
          if (a.length == 3) a ++ Array(0.0, 0.0, 0.0, 0.0) else a
        }
        if (tw.isDefined && p.get("convention").contains("coordinate_frame"))
          throw BadProjString(
            "helmert: towgs84 should only be used with convention=position_vector")
        HelmertKernel(
          x = tw.map(_(0)).orElse(p.double("x")).getOrElse(0.0),
          y = tw.map(_(1)).orElse(p.double("y")).getOrElse(0.0),
          z = tw.map(_(2)).orElse(p.double("z")).getOrElse(0.0),
          rx = tw.map(_(3)).orElse(p.double("rx")).getOrElse(0.0) * as,
          ry = tw.map(_(4)).orElse(p.double("ry")).getOrElse(0.0) * as,
          rz = tw.map(_(5)).orElse(p.double("rz")).getOrElse(0.0) * as,
          s = p.double("s").orElse(tw.map(_(6))).getOrElse(0.0),
          dx = p.double("dx").getOrElse(0.0),
          dy = p.double("dy").getOrElse(0.0),
          dz = p.double("dz").getOrElse(0.0),
          drx = p.double("drx").getOrElse(0.0) * as,
          dry = p.double("dry").getOrElse(0.0) * as,
          drz = p.double("drz").getOrElse(0.0) * as,
          ds = p.double("ds").getOrElse(0.0),
          tEpoch = p.double("t_epoch").getOrElse(Double.NaN),
          exact = p.flags.contains("exact"),
          positionVector = p.get("convention") match {
            case Some("position_vector")  => true
            case Some("coordinate_frame") => false
            case Some(o)                  => throw BadProjString(s"convention=$o")
            case None =>
              // the reference no longer accepts +transpose (helmert.cpp:
              // "Transpose no longer accepted" fixture, more_builtins:451)
              if (p.flags.contains("transpose"))
                throw BadProjString("helmert +transpose is not accepted; use +convention=")
              else if (fourParam) false
              else if (p.has("rx") || p.has("ry") || p.has("rz") ||
                       p.has("drx") || p.has("dry") || p.has("drz") ||
                       tw.exists(a => a(3) != 0 || a(4) != 0 || a(5) != 0))
                throw BadProjString("helmert rotation without convention")
              else false
          },
          fourParam = fourParam,
          theta = p.double("theta").getOrElse(0.0) * as)
      case other => throw Unsupported(s"proj=$other")
    }
  }
}

/** Pipeline step marked omit_fwd/omit_inv: identity in that direction
  * (reference: /root/reference/src/pipeline.cpp:195-219). */
final case class OmitKernel(k: PointKernel, omitFwd: Boolean) extends PointKernel {
  override def left: IOUnits.Value = k.left
  override def right: IOUnits.Value = k.right
  def fwd(v: Array[Double]): Boolean = if (omitFwd) true else k.fwd(v)
  def inv(v: Array[Double]): Boolean = if (omitFwd) k.inv(v) else true
}
