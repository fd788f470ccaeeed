package graft.geo.expr

import java.util.Locale

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.GraftSqlShim
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.geo.geodesic.Geodesic
import graft.geo.kernels.{PointKernel, ProjectionKernel}
import graft.geo.proj.{OperationFactory, ProjFactors, ProjString, TransBounds}

/** DMS string conversion — the engine's `proj_dmstor` / `rtodms` pair
  * (reference /root/reference/src/dmstor.cpp, /root/reference/src/rtodms.cpp).
  * Formatting mirrors rtodms' default mode exactly: round to 10^-fract
  * arc-seconds first, then drop zero fields from the right
  * ("45d30'15.3\"", "45d30'", "45d"), trim trailing fraction zeros, sign
  * as a leading '-' unless a positive/negative suffix character is
  * supplied (e.g. 'N'/'S'). */
object Dms {

  /** DMS text -> radians; null (not an exception) on unparseable input —
    * the engine's in-band error channel, standing in for dmstor's
    * HUGE_VAL.  A trailing 'r' marks an already-radians value (dmstor
    * convention). */
  def dmsToRad(s: UTF8String): java.lang.Double = {
    if (s == null) return null
    val t = s.toString.trim
    if (t.isEmpty) return null
    try {
      if (t.length > 1 && (t.last == 'r' || t.last == 'R') &&
          { val c = t.charAt(t.length - 2); c.isDigit || c == '.' })
        java.lang.Double.valueOf(t.dropRight(1).toDouble)
      else java.lang.Double.valueOf(math.toRadians(ProjString.parseDms(t)))
    } catch {
      case _: NumberFormatException | _: StringIndexOutOfBoundsException => null
      case _: ProjString.BadProjString => null // parseDms typed failure
    }
  }

  /** radians -> DMS text (rtodms default mode, `fract` fractional
    * second digits).  `pos`/`neg` are the suffix characters for the two
    * signs ('\u0000' = none: negatives get a leading '-'). */
  def radToDms(r0: Double, pos: Char, neg: Char, fract: Int): UTF8String = {
    val res = math.pow(10.0, fract)
    val res60 = res * 60.0
    val conv = 180.0 * 3600.0 * res / math.Pi
    var r = r0
    val sb = new java.lang.StringBuilder(24)
    var sign: Char = 0
    if (r < 0) {
      r = -r
      if (pos == 0) { sb.append('-'); sign = 0 } else sign = neg
    } else sign = pos
    r = math.floor(r * conv + 0.5)
    val sec = (r / res) % 60.0
    r = math.floor(r / res60)
    val min = (r % 60.0).toInt
    val deg = math.floor(r / 60.0).toLong
    if (sec != 0.0) {
      var fs = String.format(Locale.ROOT, s"%.${fract}f",
        java.lang.Double.valueOf(sec))
      if (fs.indexOf('.') >= 0) {
        var end = fs.length
        while (end > 0 && fs.charAt(end - 1) == '0') end -= 1
        if (end > 0 && fs.charAt(end - 1) == '.') end -= 1
        fs = fs.substring(0, end)
      }
      sb.append(deg).append('d').append(min).append('\'').append(fs).append('"')
    } else if (min != 0) {
      sb.append(deg).append('d').append(min).append('\'')
    } else sb.append(deg).append('d')
    if (sign != 0) sb.append(sign)
    UTF8String.fromString(sb.toString)
  }
}

/** DMS text -> radians (`proj_dmstor`); unparseable input -> null. */
case class DmsToRadExpr(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {
  override def nullIntolerant: Boolean = true
  override def nullable: Boolean = true
  override def dataType: DataType = DoubleType
  override def inputTypes = Seq(StringType)
  override def prettyName: String = "dmstor"

  protected override def nullSafeEval(s: Any): Any =
    Dms.dmsToRad(s.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s => {
      val tmp = ctx.freshName("dmsVal")
      s"""
         |java.lang.Double $tmp = graft.geo.expr.Dms$$.MODULE$$.dmsToRad($s);
         |if ($tmp == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $tmp.doubleValue(); }
       """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** Per-point projection diagnostics — `proj_factors`
  * ([[ProjFactors]], reference src/factors.cpp) as a scalar expression:
  * struct of the classic h/k/s/omega/theta'/convergence plus the Tissot
  * axes.  NULL outside the projection domain (the in-band error channel,
  * like proj_factors' -1 return). */
case class ProjFactorsExpr(left: Expression, right: Expression,
                           kernel: ProjectionKernel, defn: String)
    extends BinaryExpression with ImplicitCastInputTypes {
  override def nullIntolerant: Boolean = true
  override def nullable: Boolean = true
  override def inputTypes = Seq(DoubleType, DoubleType)
  override def dataType: DataType = StructType(Seq(
    "meridional_scale", "parallel_scale", "areal_scale",
    "angular_distortion", "meridian_parallel_angle", "meridian_convergence",
    "tissot_semimajor", "tissot_semiminor")
    .map(StructField(_, DoubleType, nullable = false)))
  override def prettyName: String = "proj_factors"

  protected override def nullSafeEval(lon: Any, lat: Any): Any =
    ProjFactorsExpr.compute(kernel,
      lon.asInstanceOf[Double], lat.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("kernel", kernel,
      classOf[ProjectionKernel].getName)
    nullSafeCodeGen(ctx, ev, (lon, lat) =>
      s"""${ev.value} = graft.geo.expr.ProjFactorsExpr$$.MODULE$$.compute($ref, $lon, $lat);
         |if (${ev.value} == null) ${ev.isNull} = true;""".stripMargin)
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

object ProjFactorsExpr {
  def compute(k: ProjectionKernel, lon: Double,
              lat: Double): org.apache.spark.sql.catalyst.InternalRow =
    ProjFactors.at(k, lon, lat) match {
      case Some(f) => new GenericInternalRow(Array[Any](
        f.meridionalScale, f.parallelScale, f.arealScale,
        f.angularDistortion, f.meridianParallelAngle, f.meridianConvergence,
        f.tissotSemimajor, f.tissotSemiminor))
      case None => null
    }
}

/** Densified bounding-box reprojection — `proj_trans_bounds`
  * ([[TransBounds]], reference src/4D_api.cpp proj_trans_bounds) as a
  * scalar expression over (xmin, ymin, xmax, ymax).  For geographic
  * output, xmax < xmin in the result marks an antimeridian-crossing box.
  * NULL when no boundary point survives the transform. */
case class TransBoundsExpr(first: Expression, second: Expression,
                           third: Expression, fourth: Expression,
                           kernel: PointKernel, densify: Int)
    extends QuaternaryExpression with ImplicitCastInputTypes {
  override def nullIntolerant: Boolean = true
  override def nullable: Boolean = true
  override def inputTypes = Seq(DoubleType, DoubleType, DoubleType, DoubleType)
  override def dataType: DataType = StructType(
    Seq("xmin", "ymin", "xmax", "ymax")
      .map(StructField(_, DoubleType, nullable = false)))
  override def prettyName: String = "proj_trans_bounds"

  protected override def nullSafeEval(a: Any, b: Any, c: Any, d: Any): Any =
    TransBoundsExpr.compute(kernel, densify, a.asInstanceOf[Double],
      b.asInstanceOf[Double], c.asInstanceOf[Double], d.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("kernel", kernel, classOf[PointKernel].getName)
    nullSafeCodeGen(ctx, ev, (a, b, c, d) =>
      s"""${ev.value} = graft.geo.expr.TransBoundsExpr$$.MODULE$$.compute(
         |  $ref, $densify, $a, $b, $c, $d);
         |if (${ev.value} == null) ${ev.isNull} = true;""".stripMargin)
  }

  override protected def withNewChildrenInternal(
      a: Expression, b: Expression, c: Expression, d: Expression) =
    copy(first = a, second = b, third = c, fourth = d)
}

object TransBoundsExpr {
  def compute(k: PointKernel, densify: Int, xmin: Double, ymin: Double,
              xmax: Double, ymax: Double): org.apache.spark.sql.catalyst.InternalRow =
    TransBounds.transform(k, forward = true, xmin, ymin, xmax, ymax, densify) match {
      case Some(b) => new GenericInternalRow(Array[Any](b.xmin, b.ymin, b.xmax, b.ymax))
      case None => null
    }
}

/** The SQL function surface: every engine expression registered by name
  * so `spark.sql("SELECT proj_trans('EPSG:4326','EPSG:3857', lon, lat)")`
  * compiles to the same whole-stage-codegen kernels as the Column DSL.
  * CRS descriptions / levels must be literals (they parameterize the
  * *plan* — PROJ's setup-vs-apply split puts them on the driver).
  *
  * Two installation paths:
  *  - config `spark.sql.extensions=graft.geo.expr.GraftExtensions`
  *    (documented Catalyst injection point, survives session cloning), or
  *  - `GraftFunctions.register(spark)` on a live session.
  */
object GraftFunctions {
  type Builder = Seq[Expression] => Expression

  private def strArg(fn: String, what: String, e: Expression): String = e match {
    case Literal(u: UTF8String, StringType) if u != null => u.toString
    case _ => throw new IllegalArgumentException(
      s"$fn: $what must be a string literal (it parameterizes the plan)")
  }

  private def intArg(fn: String, what: String, e: Expression): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case Literal(v: Long, LongType) => v.toInt
    case _ => throw new IllegalArgumentException(
      s"$fn: $what must be an integer literal (it parameterizes the plan)")
  }

  private def doubleArg(fn: String, what: String, e: Expression): Double = e match {
    case Literal(v: Double, DoubleType) => v
    case Literal(v: java.math.BigDecimal, _: DecimalType) => v.doubleValue()
    case Literal(v: org.apache.spark.sql.types.Decimal, _: DecimalType) =>
      v.toDouble
    case Literal(v: Int, IntegerType) => v.toDouble
    case Literal(v: Long, LongType) => v.toDouble
    case _ => throw new IllegalArgumentException(
      s"$fn: $what must be a numeric literal (it parameterizes the plan)")
  }

  private def charArg(fn: String, what: String, e: Expression): Char = {
    val s = strArg(fn, what, e)
    if (s.length != 1) throw new IllegalArgumentException(
      s"$fn: $what must be a single character")
    s.charAt(0)
  }

  private def lift(e: Expression): Column = GraftSqlShim.column(e)
  private def lower(c: Column): Expression = GraftSqlShim.expressionEager(c)

  private def arity(fn: String, args: Seq[Expression], lo: Int, hi: Int): Unit =
    if (args.length < lo || args.length > hi)
      throw new IllegalArgumentException(
        s"$fn expects $lo${if (hi != lo) s"..$hi" else ""} arguments, " +
          s"got ${args.length}")

  private def transformBuilder(fn: String, kernel: Seq[Expression] => graft.geo.kernels.PointKernel,
                               forward: Boolean, skip: Int)(args: Seq[Expression]): Expression = {
    arity(fn, args, skip + 2, skip + 4)
    val outDims = args.length - skip
    PointTransformExpr(args(skip), args(skip + 1),
      if (args.length > skip + 2) args(skip + 2) else Literal(0.0, DoubleType),
      if (args.length > skip + 3) args(skip + 3) else Literal(Double.NaN, DoubleType),
      kernel(args), forward, outDims)
  }

  /** name -> (usage, builder).  One entry per public engine expression. */
  val all: Seq[(FunctionIdentifier, ExpressionInfo, Builder)] = Seq(
    entry("proj_trans",
      "proj_trans(src_crs, dst_crs, x, y[, z[, t]]) - CRS to CRS transform " +
        "(proj-string / EPSG code / WKT / PROJJSON), struct of doubles out")(
      args => transformBuilder("proj_trans",
        a => OperationFactory.crsToCrs(
          strArg("proj_trans", "src_crs", a(0)),
          strArg("proj_trans", "dst_crs", a(1))),
        forward = true, skip = 2)(args)),
    entry("proj_fwd",
      "proj_fwd(defn, x, y[, z[, t]]) - forward operation from a " +
        "proj-string / WKT / PROJJSON definition")(
      args => transformBuilder("proj_fwd",
        a => ProjString.parse(strArg("proj_fwd", "defn", a(0))),
        forward = true, skip = 1)(args)),
    entry("proj_inv",
      "proj_inv(defn, x, y[, z[, t]]) - inverse operation from a " +
        "proj-string / WKT / PROJJSON definition")(
      args => transformBuilder("proj_inv",
        a => ProjString.parse(strArg("proj_inv", "defn", a(0))),
        forward = false, skip = 1)(args)),
    entry("cell_id",
      "cell_id(lon, lat, level) - S2-style cube-face Hilbert cell id")(
      { args =>
        arity("cell_id", args, 3, 3)
        lower(geo.cellId(lift(args(0)), lift(args(1)), intArg("cell_id", "level", args(2))))
      }),
    entry("cell_parent",
      "cell_parent(cell, level) - ancestor cell at a coarser level")(
      { args =>
        arity("cell_parent", args, 2, 2)
        lower(geo.cellParent(lift(args(0)), intArg("cell_parent", "level", args(1))))
      }),
    entry("cell_neighbors",
      "cell_neighbors(cell, k) - the (2k+1)^2 neighborhood, array<long>")(
      { args =>
        arity("cell_neighbors", args, 2, 2)
        lower(geo.cellNeighbors(lift(args(0)), intArg("cell_neighbors", "k", args(1))))
      }),
    entry("cell_decode",
      "cell_decode(cell) - struct(face, i, j) of a cell id")(
      { args => arity("cell_decode", args, 1, 1); CellDecodeExpr(args(0)) }),
    entry("hex_bin",
      "hex_bin(x, y, size_m) - planar pointy-top hex id over projected " +
        "metres (axial coords, cube rounding)")(
      { args =>
        arity("hex_bin", args, 3, 3)
        lower(geo.hexBin(lift(args(0)), lift(args(1)), doubleArg("hex_bin", "size_m", args(2))))
      }),
    entry("hex_decode",
      "hex_decode(hex, size_m) - struct(q, r, x, y): axial coords + " +
        "center metres of a planar hex id")(
      { args =>
        arity("hex_decode", args, 2, 2)
        HexDecodeExpr(args(0), doubleArg("hex_decode", "size_m", args(1)))
      }),
    entry("hex_disk",
      "hex_disk(hex, k) - all hexes within grid distance k " +
        "(3k^2+3k+1 ids), array<long>")(
      { args =>
        arity("hex_disk", args, 2, 2)
        lower(geo.hexDisk(lift(args(0)), intArg("hex_disk", "k", args(1))))
      }),
    entry("isea_hex",
      "isea_hex(lon, lat, resolution[, aperture]) - ISEA equal-area hex " +
        "DGGS id (aperture 3 or 4; the H3 grid family); NULL on kernel " +
        "failure")(
      { args =>
        arity("isea_hex", args, 3, 4)
        IseaHexIdExpr(args(0), args(1),
          intArg("isea_hex", "resolution", args(2)),
          if (args.length > 3) intArg("isea_hex", "aperture", args(3)) else 4)
      }),
    entry("tile_id",
      "tile_id(lon, lat, zoom) - packed XYZ web-map tile id " +
        "(slippy-map spherical-Mercator pyramid)")(
      { args =>
        arity("tile_id", args, 3, 3)
        lower(geo.tileId(lift(args(0)), lift(args(1)), intArg("tile_id", "zoom", args(2))))
      }),
    entry("tile_decode",
      "tile_decode(tile) - struct(z, x, y) of a packed tile id")(
      { args => arity("tile_decode", args, 1, 1); TileDecodeExpr(args(0)) }),
    entry("quadkey",
      "quadkey(tile) - Bing quadkey text of a packed tile id " +
        "(z base-4 digits; parent = string prefix)")(
      { args => arity("quadkey", args, 1, 1); lower(geo.quadkey(lift(args(0)))) }),
    entry("quadkey_to_tile",
      "quadkey_to_tile(text) - packed tile id of a Bing quadkey; " +
        "NULL when malformed")(
      { args => arity("quadkey_to_tile", args, 1, 1); QuadkeyToTileExpr(args(0)) }),
    entry("geohash",
      "geohash(lon, lat, precision) - base-32 geohash text (1-12 chars)")(
      { args =>
        arity("geohash", args, 3, 3)
        lower(geo.geohash(lift(args(0)), lift(args(1)),
          intArg("geohash", "precision", args(2))))
      }),
    entry("geohash_decode",
      "geohash_decode(text) - struct(lon, lat) cell center of a geohash; " +
        "NULL when malformed")(
      { args => arity("geohash_decode", args, 1, 1); GeohashDecodeExpr(args(0)) }),
    entry("geod_distance",
      "geod_distance(lon1, lat1, lon2, lat2) - WGS84 geodesic metres")(
      { args =>
        arity("geod_distance", args, 4, 4)
        lower(geo.geodDistance(lift(args(0)), lift(args(1)), lift(args(2)), lift(args(3))))
      }),
    entry("geod_direct",
      "geod_direct(lon, lat, azi_deg, s_m) - struct(lon, lat, azi) at " +
        "distance s along azimuth azi (WGS84)")(
      { args =>
        arity("geod_direct", args, 4, 4)
        GeodesicDirectExpr(args(0), args(1), args(2), args(3), Geodesic.WGS84)
      }),
    entry("geod_waypoints",
      "geod_waypoints(lon1, lat1, lon2, lat2, n) - n+1 waypoints along " +
        "the connecting geodesic, array<struct(lon, lat, azi)>")(
      { args =>
        arity("geod_waypoints", args, 5, 5)
        lower(geo.geodWaypoints(lift(args(0)), lift(args(1)), lift(args(2)),
          lift(args(3)), intArg("geod_waypoints", "n", args(4))))
      }),
    entry("point_in_polygon",
      "point_in_polygon(lon, lat, ring) - even-odd test against a flat " +
        "[lon0,lat0,lon1,lat1,...] ring")(
      { args =>
        arity("point_in_polygon", args, 3, 3)
        lower(geo.pointInPolygon(lift(args(0)), lift(args(1)), lift(args(2))))
      }),
    entry("proj_factors",
      "proj_factors(defn, lon, lat) - scale/distortion diagnostics of a " +
        "projection at a point: struct(meridional_scale, parallel_scale, " +
        "areal_scale, angular_distortion, meridian_parallel_angle, " +
        "meridian_convergence, tissot_semimajor, tissot_semiminor); " +
        "NULL outside the projection domain")(
      { args =>
        arity("proj_factors", args, 3, 3)
        val defn = strArg("proj_factors", "defn", args(0))
        ProjString.parse(defn) match {
          case pk: graft.geo.kernels.ProjectionKernel =>
            ProjFactorsExpr(args(1), args(2), pk, defn)
          case _ => throw new IllegalArgumentException(
            "proj_factors: defn must be a plain projection (not a " +
              "pipeline or geographic CRS)")
        }
      }),
    entry("proj_trans_bounds",
      "proj_trans_bounds(src_crs, dst_crs, xmin, ymin, xmax, ymax" +
        "[, densify_pts]) - reproject a bounding box by densified-edge " +
        "sampling with pole and antimeridian handling; xmax < xmin in a " +
        "geographic result marks an antimeridian crossing")(
      { args =>
        arity("proj_trans_bounds", args, 6, 7)
        val k = OperationFactory.crsToCrs(
          strArg("proj_trans_bounds", "src_crs", args(0)),
          strArg("proj_trans_bounds", "dst_crs", args(1)))
        val densify =
          if (args.length == 7) intArg("proj_trans_bounds", "densify_pts", args(6))
          else 21
        // plan-time validation: a per-row require() would fail mid-job on
        // every executor instead of at analysis
        if (densify < 2 || densify > 10000)
          throw new IllegalArgumentException(
            "proj_trans_bounds: densify_pts must be in [2, 10000]")
        TransBoundsExpr(args(2), args(3), args(4), args(5), k, densify)
      }),
    entry("geod_polygon_area",
      "geod_polygon_area(ring) - struct(area_m2, perimeter_m) of the " +
        "closed WGS84 geodesic polygon [lon0,lat0,lon1,lat1,...]; " +
        "counter-clockwise positive")(
      { args =>
        arity("geod_polygon_area", args, 1, 1)
        lower(geo.geodPolygonArea(lift(args(0))))
      }),
    entry("dmstor",
      "dmstor(text) - DMS text (\"45d30'15.3\\\"N\", \"0.79r\") to radians; " +
        "null when unparseable")(
      { args => arity("dmstor", args, 1, 1); DmsToRadExpr(args(0)) }),
    entry("rtodms",
      "rtodms(rad[, pos, neg]) - radians to DMS text; pos/neg are " +
        "single-char hemisphere suffixes (e.g. 'N','S')")(
      { args =>
        arity("rtodms", args, 1, 3)
        if (args.length == 1) lower(geo.radToDms(lift(args(0))))
        else {
          arity("rtodms", args, 3, 3)
          lower(geo.radToDms(lift(args(0)), charArg("rtodms", "pos", args(1)),
            charArg("rtodms", "neg", args(2))))
        }
      }),

    // ---- training-data ops (graft.data), same injection surface so a
    // pure-SQL user reaches the whole engine ----
    entry("doc_fingerprint",
      "doc_fingerprint(text) - 64-bit rolling-hash fingerprint over " +
        "case/whitespace-normalized text")(
      { args =>
        arity("doc_fingerprint", args, 1, 1)
        lower(graft.data.dataops.fingerprint(lift(args(0))))
      }),
    entry("simhash",
      "simhash(text[, seed]) - 64-bit SimHash over word tokens")(
      { args =>
        arity("simhash", args, 1, 2)
        lower(graft.data.dataops.simhash(lift(args(0)),
          if (args.length > 1) intArg("simhash", "seed", args(1)).toLong
          else 42L))
      }),
    entry("minhash",
      "minhash(text[, num_hashes, shingle]) - MinHash signature array " +
        "over word shingles")(
      { args =>
        arity("minhash", args, 1, 3)
        lower(graft.data.dataops.minhash(lift(args(0)),
          if (args.length > 1) intArg("minhash", "num_hashes", args(1)) else 64,
          if (args.length > 2) intArg("minhash", "shingle", args(2)) else 3))
      }),
    entry("repetition_stats",
      "repetition_stats(text) - Gopher-style repetition struct (word/" +
        "bigram/trigram totals, distinct counts, top-gram frequency)")(
      { args =>
        arity("repetition_stats", args, 1, 1)
        lower(graft.data.dataops.repetitionStats(lift(args(0))))
      }),
    entryCol("token_count_ws",
      "token_count_ws(text) - whitespace token count (0 for null/blank)")(
      c => graft.data.TextOps.tokenCountWs(c)),
    entryCol("token_count_bpe",
      "token_count_bpe(text) - pre-tokenizer granularity token count " +
        "(letter runs, digit runs, single punctuation)")(
      c => graft.data.TextOps.tokenCountBpe(c)),
    entryCol("lang_id",
      "lang_id(text) - stopword-profile language guess " +
        "(en/de/fr/es/und)")(
      c => graft.data.TextOps.langId(c)),
    entryCol("quality_score",
      "quality_score(text) - struct(n_chars, n_tokens, punct_ratio, " +
        "stopword_ratio, mean_token_len)")(
      c => graft.data.TextOps.qualityScore(c)),
    entryCol("redact_pii",
      "redact_pii(text) - emails/urls/phones replaced by typed " +
        "placeholders")(
      c => graft.data.TextOps.redactPii(c)),
    entryCol("split_assign",
      "split_assign(text) - content-addressed train/valid/test label " +
        "(90/5/5; exact dups land in the same split)")(
      c => graft.data.TextOps.splitAssign(c)),
    entryCol("url_normalize",
      "url_normalize(url) - canonical url: case, userinfo, default " +
        "ports, www, fragments, tracking params, slash collapse")(
      c => graft.data.UrlOps.normalizeUrl(c)),
    entryCol("url_host",
      "url_host(url) - lowercased host (userinfo/port/www stripped)")(
      c => graft.data.UrlOps.urlHost(c)),
    entryCol("url_domain",
      "url_domain(url) - registered (pay-level) domain of the url's " +
        "host, second-level public suffixes honored")(
      c => graft.data.UrlOps.registeredDomain(graft.data.UrlOps.urlHost(c)))
  )

  /** entry() variant for Column-composed (built-in-expression) ops: the
    * builder lifts argument expressions into Columns, applies the
    * library function, and lowers the result back to an Expression. */
  private def entryCol(name: String, usage: String)(
      f: Column => Column) =
    entry(name, usage) { args =>
      arity(name, args, 1, 1)
      lower(f(lift(args(0))))
    }

  private def entry(name: String, usage: String)(b: Builder) =
    (FunctionIdentifier(name),
      new ExpressionInfo(GraftFunctions.getClass.getName, null, name, usage, ""),
      b)

  /** Register every function on a live session (idempotent). */
  def register(spark: SparkSession): Unit =
    all.foreach { case (id, info, b) =>
      GraftSqlShim.registerFunction(spark, id, info, b)
    }
}

/** `spark.sql.extensions` entry point: injects the whole function
  * surface at session build (the documented Catalyst injection point —
  * holds across `newSession()` clones and connect-style deployments). */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftFunctions.all.foreach(ext.injectFunction)
}
