package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.data.{dataops, Ann, Dedup, MediaProbes, Multimodal, TextOps, UrlOps}
import graft.geo.engine.GeoEngine
import graft.geo.expr.geo
import graft.geo.kernels.{GallKernel, MercKernel, MillKernel, WebMercKernel}
import graft.geo.math.Ellipsoid

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Conventions shared by every query/oracle pair:
  *  - deterministic lon/lat derived in-query from testdata numeric columns
  *    with non-round multipliers (never integer degrees), so Spark and the
  *    DuckDB oracle derive bit-identical doubles and no point sits on a
  *    face/cell boundary where libm ulp differences could flip a bin;
  *  - output columns are BIGINT/STRING only (metres scaled to integer
  *    centimetres, ratios in integer ppm via integer division, ranks), so
  *    cross-engine float formatting can't flip a hash compare;
  *  - every aggregate counts or sums integers — exact in any order, hence
  *    partition-count independent.
  *
  * Operators not expressible in DuckDB SQL (geodesic distance, MinHash /
  * SimHash LSH, SRP buckets, media decode) ship as rows-only queries here
  * and get their exact oracles from the scalatest suites (gie fixtures,
  * brute-force comparisons) instead.
  */
object SparkEntry {

  /** lineitem scan + derived deterministic geo columns (lon, lat). */
  private def geoLineitem(spark: SparkSession, dir: String): DataFrame = {
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    li.withColumn("lon",
        pmod(col("l_extendedprice") * lit(1.000003), lit(359.9)) - lit(179.95))
      .withColumn("lat",
        pmod(col("l_discount") * lit(1000.0) + col("l_partkey") * lit(1.000007),
          lit(169.9)) - lit(84.95))
      .withColumn("pt_id",
        col("l_orderkey") * lit(8) + col("l_linenumber"))
  }

  /** Four deterministic messy-URL shapes keyed by doc_id % 4, covering
    * every normalization rule; variant 3 collides on doc_id % 97 to give
    * the URL dedup real dup groups.  Replayed verbatim in the oracles. */
  private def plantedUrl(d: Column): Column =
    when(pmod(d, lit(4)) === 0,
      concat(lit("HTTPS://WWW.Example.COM:443/a//b/?utm_source=x&id="), d,
        lit("#sec")))
      .when(pmod(d, lit(4)) === 1,
        concat(lit("http://user@News.example.CO.UK:80/path/"), d, lit("/")))
      .when(pmod(d, lit(4)) === 2,
        concat(lit("example.org/q?ref=tw&x="), d))
      .otherwise(
        concat(lit("https://Mirror.example.com/dup/"), pmod(d, lit(97))))

  /** Study-area measure for Ripley's K (whole authalic sphere) — the
    * oracle embeds the identical double. */
  private val RipleyAreaM2 = 4.0 * math.Pi * 6371007.18 * 6371007.18

  /** 16 integer support directions for the convex-hull oracle (exact
    * long dot products; shared by the Spark query and the SQL replay). */
  private val HullDirs = Seq((1, 0), (2, 1), (1, 1), (1, 2), (0, 1),
    (-1, 2), (-1, 1), (-2, 1), (-1, 0), (-2, -1), (-1, -1), (-1, -2),
    (0, -1), (1, -2), (1, -1), (2, -1))

  /** Time of day of an events row as a fraction of the day: the clock the
    * event-stream point models drift with. */
  private def dayFrac: Column =
    pmod(unix_micros(col("ts").cast("timestamp")), lit(86400000000L)) /
      lit(86400000000.0)

  /** events scan + the day-cycle drift positions (lon, lat) of the
    * movement queries: 60 x 30 user classes that move 2 deg east and 1 deg
    * north over a day and jump back at midnight.  `every4` keeps the
    * event_id % 4 = 0 subset; `keep` columns come first.  The oracles
    * replay it as [[eventPointsSql]]. */
  private def eventPoints(s: SparkSession, dir: String, every4: Boolean,
                          keep: String*): DataFrame = {
    val ev = s.read.parquet(s"$dir/events.parquet")
    (if (every4) ev.where(pmod(col("event_id"), lit(4)) === 0) else ev)
      .select(keep.map(col) ++ Seq(
        (pmod(col("user_id"), lit(60)) * 3.0 - 90.0 + dayFrac * 2.0).as("lon"),
        (pmod(col("user_id"), lit(30)) * 2.0 - 30.0 + dayFrac * 1.0).as("lat")): _*)
  }

  /** nation scan as kNN / join query points (query_id, lon, lat), a
    * deterministic spread like [[geoLineitem]]'s; the oracles replay it as
    * [[nationQueriesCte]]. */
  private def nationQueries(s: SparkSession, dir: String, lon: String = "lon",
                            lat: String = "lat"): DataFrame =
    s.read.parquet(s"$dir/nation.parquet")
      .select(col("n_nationkey").cast("long").as("query_id"),
        (pmod(col("n_nationkey") * lit(37.123457), lit(359.9)) - lit(179.95)).as(lon),
        (pmod(col("n_nationkey") * lit(53.654321), lit(169.9)) - lit(84.95)).as(lat))

  // --- SQL mirrors of engine primitives, shared by the oracles ------------

  /** SQL mirror of the geo derivation. DuckDB `mod` keeps the dividend
    * sign, so spell out the floored-mod identity used by Spark's pmod. */
  private val lonSql =
    "(mod(mod(l_extendedprice * 1.000003, 359.9) + 359.9, 359.9) - 179.95)"
  private val latSql =
    "(mod(mod(l_discount*1000.0 + l_partkey * 1.000007, 169.9) + 169.9, 169.9) - 84.95)"

  /** [[nationQueries]]'s positions as select items, and the whole scan as
    * the CTE `queries`. */
  private val nationLonLatSql =
    """(mod(mod(n_nationkey * 37.123457, 359.9) + 359.9, 359.9) - 179.95) AS lon,
      |    (mod(mod(n_nationkey * 53.654321, 169.9) + 169.9, 169.9) - 84.95) AS lat""".stripMargin
  private val nationQueriesCte =
    s"""queries AS (
       |  SELECT CAST(n_nationkey AS BIGINT) AS query_id,
       |    $nationLonLatSql
       |  FROM nation
       |)""".stripMargin

  /** [[dayFrac]] and the [[eventPoints]] positions as select items. */
  private val dayFracSql = "(epoch_us(ts) % 86400000000) / 86400000000.0"
  private val eventPointsSql =
    s"""(user_id % 60) * 3.0 - 90.0 + $dayFracSql * 2.0 AS lon,
       |    (user_id % 30) * 2.0 - 30.0 + $dayFracSql * 1.0 AS lat""".stripMargin

  /** GeoEngine.trajectorySegments' split rule over the [[eventPoints]]
    * streams: `flagged.is_new` is 1 where a user's point follows a gap
    * over 6 h or a jump over 100 km (chord^2, the threshold computed by
    * the engine's own maxChord2For); `keep` columns ride along. */
  private def segmentFlagsSql(keep: String): String =
    s"""WITH p AS (
       |  SELECT event_id, user_id, ts,
       |    $eventPointsSql
       |  FROM events WHERE ts IS NOT NULL
       |), lagged AS (
       |  SELECT event_id, user_id, ts, lon, lat,
       |    lag(ts) OVER w AS pts, lag(lon) OVER w AS plon,
       |    lag(lat) OVER w AS plat
       |  FROM p WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
       |), flagged AS (
       |  SELECT event_id, user_id, ts$keep,
       |    CASE WHEN pts IS NULL OR ts > pts + INTERVAL 6 HOUR
       |      OR ${chord2Sql("plon", "plat", "lon", "lat")} > ${GeoEngine.maxChord2For(100000.0)}
       |    THEN 1 ELSE 0 END AS is_new
       |  FROM lagged
       |)""".stripMargin

  /** asinh(tan(lat)) written out as ln(tan + sqrt(tan^2 + 1)), not asinh,
    * so both engines evaluate the same floating-point expression. */
  private def lnTanSql(lat: String): String =
    s"""ln(tan(radians($lat)) +
       |    sqrt(tan(radians($lat))*tan(radians($lat)) + 1.0))""".stripMargin

  /** WebMercKernel's forward (sphere R = 6378137 m) as the select items
    * `x`, `y` in metres. */
  private def webmercSql(lon: String, lat: String): String =
    s"""6378137.0 * radians($lon) AS x,
       |  6378137.0 * ${lnTanSql(lat)} AS y""".stripMargin

  /** The XYZ web tile (x, y) of each lineitem point on an n x n grid. */
  private def webTileSql(n: Int): String =
    s"""SELECT CAST(least(greatest(floor(($lonSql + 180.0) / 360.0 * $n.0), 0), ${n - 1}) AS BIGINT) AS x,
       |  CAST(least(greatest(floor((1.0 - ${lnTanSql(latSql)} / pi()) / 2.0 * $n.0), 0), ${n - 1}) AS BIGINT) AS y
       |FROM lineitem""".stripMargin

  /** The q_webmerc_fwd oracle, shared by every query that must reach the
    * same plan through another front door (name, registry, WKT, ESRI WKT,
    * PROJJSON, SQL text). */
  private val webmercDmSql =
    s"""SELECT l_orderkey, l_linenumber,
       |  CAST(round(6378137.0 * radians($lonSql) * 10) AS BIGINT) AS x_dm,
       |  CAST(round(6378137.0 * ${lnTanSql(latSql)} * 10) AS BIGINT) AS y_dm
       |FROM lineitem""".stripMargin

  /** HexIndex.fracQ/fracR at size 250 km over columns (x, y). */
  private val hexFracSql =
    """(sqrt(3.0)/3.0 * x - y/3.0) / 250000.0 AS fq,
      |         (2.0/3.0 * y) / 250000.0 AS fr""".stripMargin

  /** HexIndex.cubeRoundQ/R: each cube coordinate rounded (rq, rr, rs),
    * then the one with the largest error repaired with the same chain
    * (strict >, fix q first, then r, else s) into (hq, hr). */
  private val hexRoundSql =
    """fq, fr, -fq - fr AS fs,
      |         floor(fq + 0.5) AS rq, floor(fr + 0.5) AS rr,
      |         floor(-fq - fr + 0.5) AS rs""".stripMargin
  private val hexFixSql =
    """CASE WHEN abs(rq - fq) > abs(rr - fr)
      |                AND abs(rq - fq) > abs(rs - fs)
      |              THEN -rr - rs ELSE rq END AS hq,
      |         CASE WHEN abs(rq - fq) > abs(rr - fr)
      |                AND abs(rq - fq) > abs(rs - fs) THEN rr
      |              WHEN abs(rr - fr) > abs(rs - fs)
      |              THEN -rq - rs ELSE rr END AS hr""".stripMargin

  /** The planar hexbin (HexIndex, 250 km hexes on web-Mercator metres)
    * as the CTEs xy -> fr -> rounded -> fixed; `fixed` holds (hq, hr).
    * `lead` ("bin, ") and `carry` (", v") columns ride along every step;
    * `xyCarry` selects the carried columns from `from`. */
  private def hexSql(lon: String, lat: String, from: String, lead: String = "",
                     carry: String = "", xyCarry: String = ""): String =
    s"""xy AS (
       |  SELECT $lead${webmercSql(lon, lat)}$xyCarry
       |  FROM $from
       |), fr AS (
       |  SELECT $lead$hexFracSql$carry
       |  FROM xy
       |), rounded AS (
       |  SELECT $lead$hexRoundSql$carry
       |  FROM fr
       |), fixed AS (
       |  SELECT $lead$hexFixSql$carry
       |  FROM rounded
       |)""".stripMargin

  /** [[hexSql]] over the lineitem points, then `cells`: the aggregates
    * `agg` per hex (hq, hr).  A `value` expression is carried along as
    * `v`. */
  private def hexCellsSql(agg: String = "CAST(count(*) AS BIGINT) AS x",
                          value: String = ""): String = {
    val hex = if (value.isEmpty) hexSql(lonSql, latSql, "lineitem")
      else hexSql(lonSql, latSql, "lineitem", carry = ", v", xyCarry = s", $value AS v")
    s"""WITH $hex, cells AS (
       |  SELECT CAST(hq AS BIGINT) AS hq, CAST(hr AS BIGINT) AS hr,
       |         $agg
       |  FROM fixed GROUP BY 1, 2
       |)""".stripMargin
  }

  /** `g`: the cell count n and the exact moments sum_x, sum_x2 of `cells`. */
  private val hexMomentsSql =
    """g AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n,
      |         CAST(sum(x) AS BIGINT) AS sum_x,
      |         CAST(sum(x*x) AS BIGINT) AS sum_x2
      |  FROM cells
      |)""".stripMargin

  /** Hex rows `a` and `b` are the same or adjacent hexes (axial grid
    * distance <= 1, HexIndex's ring-1 disk). */
  private val hexRing1Sql =
    """(abs(a.hq - b.hq) + abs(a.hr - b.hr)
      |        + abs((a.hq - b.hq) + (a.hr - b.hr))) / 2 <= 1""".stripMargin

  /** The Gi* oracle over `cells` (hexes with attribute x): ring-1
    * neighbour sums and the closed-form z from exact longs; x is output
    * as `xName`. */
  private def giStarSql(cells: String, xName: String): String =
    s"""$cells, $hexMomentsSql, nbr AS (
       |  SELECT a.hq, a.hr,
       |         CAST(sum(b.x) AS BIGINT) AS wsum,
       |         CAST(count(*) AS BIGINT) AS wn
       |  FROM cells a JOIN cells b
       |    ON $hexRing1Sql
       |  GROUP BY 1, 2
       |)
       |SELECT c.hq, c.hr, c.x AS $xName, nb.wsum, nb.wn,
       |  CASE WHEN g.n > 1 AND wn < g.n
       |        AND CAST(g.sum_x2 AS DOUBLE)/g.n
       |            - (CAST(g.sum_x AS DOUBLE)/g.n)
       |              * (CAST(g.sum_x AS DOUBLE)/g.n) > 0
       |  THEN CAST(floor(
       |    (CAST(nb.wsum AS DOUBLE)
       |       - CAST(g.sum_x AS DOUBLE)/g.n * nb.wn)
       |    / (sqrt(CAST(g.sum_x2 AS DOUBLE)/g.n
       |         - (CAST(g.sum_x AS DOUBLE)/g.n)
       |           * (CAST(g.sum_x AS DOUBLE)/g.n))
       |       * sqrt(CAST(g.n*nb.wn - nb.wn*nb.wn AS DOUBLE)
       |              / CAST(g.n - 1 AS DOUBLE)))
       |    * 1e6 + 0.5) AS BIGINT)
       |  END AS z_e6
       |FROM cells c
       |JOIN nbr nb ON c.hq = nb.hq AND c.hr = nb.hr
       |CROSS JOIN g""".stripMargin

  /** `deltas`: the axial offsets of HexIndex's ring-2 disk; `fan`: the
    * `cols` of every cell spread over its disk, with each offset's planar
    * (dx, dy) in metres. */
  private def hexFanSql(cols: String): String =
    s"""deltas AS (
       |  SELECT a.dq, b.dr
       |  FROM (SELECT unnest(generate_series(-2, 2)) AS dq) a
       |  CROSS JOIN (SELECT unnest(generate_series(-2, 2)) AS dr) b
       |  WHERE (abs(a.dq) + abs(b.dr) + abs(a.dq + b.dr)) / 2 <= 2
       |), fan AS (
       |  SELECT c.hq + d.dq AS hq, c.hr + d.dr AS hr, $cols,
       |         ${math.sqrt(3.0) * 250000.0} * (d.dq + d.dr / 2.0) AS dx,
       |         ${1.5 * 250000.0} * d.dr AS dy
       |  FROM cells c CROSS JOIN deltas d
       |)""".stripMargin

  /** q_emerging's and q_mk_trend's input: each user's fixed position,
    * hexbinned, counted per (hex, day) in `counts`; `rng` holds the days
    * spanned. */
  private val userHexDaysCtes =
    s"""WITH pts AS (
       |  SELECT epoch_us(ts) // 86400000000 AS bin,
       |         (user_id % 60) * 3.0 - 90.0 AS lon,
       |         (user_id % 30) * 2.0 - 30.0 AS lat
       |  FROM events
       |), ${hexSql("lon", "lat", "pts", lead = "bin, ")}, counts AS (
       |  SELECT CAST(hq AS BIGINT) AS hq, CAST(hr AS BIGINT) AS hr,
       |         CAST(bin AS BIGINT) AS bin, CAST(count(*) AS BIGINT) AS x
       |  FROM fixed GROUP BY 1, 2, 3
       |), rng AS (
       |  SELECT min(bin) AS minb, max(bin) AS maxb FROM counts
       |)""".stripMargin

  /** The lineitem points in web-Mercator millimetres (xq, yq), grouped by
    * `grp` = l_suppkey % 7: the input of the hull and centrography
    * oracles. */
  private val mmGroupsCtes =
    s"""WITH xy AS (
       |  SELECT l_suppkey % 7 AS grp,
       |         ${webmercSql(lonSql, latSql)}
       |  FROM lineitem
       |), q AS (
       |  SELECT grp, CAST(floor(x * 1000.0 + 0.5) AS BIGINT) AS xq,
       |         CAST(floor(y * 1000.0 + 0.5) AS BIGINT) AS yq
       |  FROM xy
       |)""".stripMargin

  /** Unit-sphere vector (x, y, z) of columns (lon, lat) as select items,
    * and the squared chord between two such rows `a` and `b`. */
  private val xyzSql =
    """cos(radians(lat))*cos(radians(lon)) AS x,
      |    cos(radians(lat))*sin(radians(lon)) AS y,
      |    sin(radians(lat)) AS z""".stripMargin
  private val xyzChord2Sql =
    """(a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y)
      |      + (a.z-b.z)*(a.z-b.z)""".stripMargin

  /** Squared unit-sphere chord between two (lon, lat) degree expression
    * pairs, in GeoEngine.chord2's operation order. */
  private def chord2Sql(lon1: String, lat1: String, lon2: String,
                        lat2: String): String =
    s"""pow(cos(radians($lat1))*cos(radians($lon1)) - cos(radians($lat2))*cos(radians($lon2)), 2) +
       |    pow(cos(radians($lat1))*sin(radians($lon1)) - cos(radians($lat2))*sin(radians($lon2)), 2) +
       |    pow(sin(radians($lat1)) - sin(radians($lat2)), 2)""".stripMargin

  /** The bilinear NTv2 shift of tests/test_hgrid_little_endian.gsb (4 x 4
    * nodes, 1 arc-hour apart from 4 E 52 N; node i = row*4 + (3 - col)
    * holds lat 14400 - 900*i and lon -900*(i+1) arc-seconds) in the
    * kernel's float quantization and summation order.  `ntv2CellCtes`
    * take (lam, phi) radians from `rad` to the cell's first node i00 and
    * its weights m00..m11. */
  private val ntv2CellCtes =
    """g AS (
      |  SELECT *,
      |    (lam - 14400 * (pi()/180/3600)) / (3600 * (pi()/180/3600)) AS tl,
      |    (phi - 187200 * (pi()/180/3600)) / (3600 * (pi()/180/3600)) AS tp
      |  FROM rad
      |), c AS (
      |  SELECT *, floor(tl) AS il, floor(tp) AS ip,
      |    tl - floor(tl) AS fl, tp - floor(tp) AS fp FROM g
      |), mm AS (
      |  SELECT *, (1.0-fl)*(1.0-fp) AS m00, fl*(1.0-fp) AS m10,
      |    (1.0-fl)*fp AS m01, fl*fp AS m11,
      |    ip*4 + (3 - il) AS i00 FROM c
      |)""".stripMargin

  /** `ntv2ShiftCtes` run the whole shift over `pts` (lon, lat degrees),
    * adding (vlat, vlon) in radians. */
  private val ntv2ShiftCtes =
    s"""rad AS (
       |  SELECT *, lon * (pi()/180) AS lam, lat * (pi()/180) AS phi FROM pts
       |), $ntv2CellCtes, sh AS (
       |  SELECT *,
       |    m00*CAST(CAST(14400 - 900*i00 AS REAL) * (pi()/180/3600) AS REAL)
       |      + m10*CAST(CAST(14400 - 900*(i00-1) AS REAL) * (pi()/180/3600) AS REAL)
       |      + m01*CAST(CAST(14400 - 900*(i00+4) AS REAL) * (pi()/180/3600) AS REAL)
       |      + m11*CAST(CAST(14400 - 900*(i00+3) AS REAL) * (pi()/180/3600) AS REAL) AS vlat,
       |    m00*CAST(-CAST(-900*(i00+1) AS REAL) * (pi()/180/3600) AS REAL)
       |      + m10*CAST(-CAST(-900*(i00) AS REAL) * (pi()/180/3600) AS REAL)
       |      + m01*CAST(-CAST(-900*(i00+5) AS REAL) * (pi()/180/3600) AS REAL)
       |      + m11*CAST(-CAST(-900*(i00+4) AS REAL) * (pi()/180/3600) AS REAL) AS vlon
       |  FROM mm
       |)""".stripMargin

  /** FNV-1a 64 of a string expression's UTF-16 units (DedupHash) in
    * HUGEINT arithmetic that replays the 64-bit wraparound; `i` names the
    * lambda's index. */
  private def fnvSql(s: String, i: String = "i"): String =
    s"""list_reduce(list_prepend(CAST('14695981039346656037' AS HUGEINT),
       |      list_transform(generate_series(1, length($s)),
       |        $i -> CAST(unicode(substr($s, $i, 1)) AS HUGEINT))),
       |      (h, c) -> ((h - (h % 65536) +
       |          CAST(xor(CAST(h % 65536 AS BIGINT), CAST(c AS BIGINT)) AS HUGEINT))
       |        * 1099511628211) % CAST('18446744073709551616' AS HUGEINT))""".stripMargin

  /** An unsigned 64-bit HUGEINT as the signed view Spark's longs hold. */
  private def signedSql(u: String): String =
    s"""CASE WHEN $u >= CAST('9223372036854775808' AS HUGEINT)
       |      THEN $u - CAST('18446744073709551616' AS HUGEINT)
       |      ELSE $u END""".stripMargin

  /** The 64-bit shingle combine of Dedup: fold a list of word hashes as
    * ((OFS ^ h1) * P ^ h2) * P ..., the xor on the signed view. */
  private def fnvCombineSql(list: String): String =
    s"""list_reduce(list_prepend(CAST('14695981039346656037' AS HUGEINT),
       |      $list),
       |      (acc, h) -> (((CAST(xor(
       |          CAST(${signedSql("acc")} AS BIGINT),
       |          CAST(${signedSql("h")} AS BIGINT)) AS HUGEINT)
       |        + CAST('18446744073709551616' AS HUGEINT)) % CAST('18446744073709551616' AS HUGEINT))
       |        * 1099511628211) % CAST('18446744073709551616' AS HUGEINT))""".stripMargin

  /** The n-word shingle hashes of a document's word hashes `hs`: none for
    * no words, one shingle of all of them below n words, else one per
    * window (`window` spells hs[i..i+n-1]), distinct if `distinct`. */
  private def shinglesSql(n: Int, window: String, distinct: Boolean): String = {
    val all = s"list_transform(generate_series(1, len(hs) - ${n - 1}), i ->\n    " +
      fnvCombineSql(window) + ")"
    s"""CASE WHEN len(hs) = 0 THEN CAST([] AS HUGEINT[])
       |    WHEN len(hs) < $n THEN [${fnvCombineSql("hs")}]
       |    ELSE ${if (distinct) s"list_distinct($all)" else all} END""".stripMargin
  }

  /** Each document's words (`toks.ws`, single-space split, empties
    * dropped) and their FNV hashes (`wh.hs`). */
  private val wordHashCtes =
    s"""WITH toks AS (
       |  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS ws
       |  FROM documents
       |), wh AS (
       |  SELECT doc_id, list_transform(ws, w ->
       |    ${fnvSql("w")}
       |  ) AS hs FROM toks
       |)""".stripMargin

  /** The quadratic cube-face tiling (CellIndex) re-expressed as pure SQL:
    * produces columns (face, i, j) at `level` from lon/lat expressions. */
  private def tileSql(lonExpr: String, latExpr: String, level: Int,
                      from: String, extraCols: String = ""): String = {
    val n = 1 << level
    s"""
       |WITH pts AS (
       |  SELECT $lonExpr AS lon, $latExpr AS lat$extraCols FROM $from
       |), xyz AS (
       |  SELECT *, $xyzSql
       |  FROM pts
       |), faced AS (
       |  SELECT *, CASE
       |    WHEN abs(x) > abs(y) THEN
       |      CASE WHEN abs(x) > abs(z) THEN (CASE WHEN x >= 0 THEN 0 ELSE 3 END)
       |           ELSE (CASE WHEN z >= 0 THEN 2 ELSE 5 END) END
       |    ELSE
       |      CASE WHEN abs(y) > abs(z) THEN (CASE WHEN y >= 0 THEN 1 ELSE 4 END)
       |           ELSE (CASE WHEN z >= 0 THEN 2 ELSE 5 END) END
       |    END AS face
       |  FROM xyz
       |), uv AS (
       |  SELECT *,
       |    CASE face WHEN 0 THEN y/x WHEN 1 THEN -x/y WHEN 2 THEN -x/z
       |              WHEN 3 THEN z/x WHEN 4 THEN z/y ELSE -y/z END AS u,
       |    CASE face WHEN 0 THEN z/x WHEN 1 THEN z/y WHEN 2 THEN -y/z
       |              WHEN 3 THEN y/x WHEN 4 THEN -x/y ELSE -x/z END AS v
       |  FROM faced
       |), st AS (
       |  SELECT *,
       |    CASE WHEN u >= 0 THEN 0.5*sqrt(1+3*u) ELSE 1-0.5*sqrt(1-3*u) END AS s,
       |    CASE WHEN v >= 0 THEN 0.5*sqrt(1+3*v) ELSE 1-0.5*sqrt(1-3*v) END AS t
       |  FROM uv
       |), tiled AS (
       |  SELECT *,
       |    LEAST(GREATEST(CAST(floor(s*$n) AS BIGINT), 0), ${n - 1}) AS i,
       |    LEAST(GREATEST(CAST(floor(t*$n) AS BIGINT), 0), ${n - 1}) AS j
       |  FROM st
       |)
     """.stripMargin
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Tile occupancy of the corpus: lon/lat -> S2-style cell at level 6 ->
    * occupancy counts (SURVEY.md §7.2 slice 0). */
  def entry(spark: SparkSession): DataFrame = {
    val pts = geoLineitem(spark, "/root/testdata/sf0.001")
    pts.select(geo.cellId(col("lon"), col("lat"), 6).as("cell"))
      .groupBy(col("cell")).agg(count(lit(1)).as("n"))
      .orderBy(col("cell"))
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- registry-wide Catalyst-path sweep: every pj_list.h operation
    // --- through PointTransformExpr + codegen; one row per op.  No SQL
    // --- oracle (kernels aren't SQL-expressible) — RegistrySweepSpec
    // --- cross-checks each checksum bit-for-bit against JVM-direct
    // --- evaluation of the same kernel.
    "q_registry_sweep" -> ((s, _) => graft.geo.proj.RegistrySweep.sweep(s)),
    // --- authority database (EPSG/ESRI/IAU registry parsed from the
    // --- reference's data/sql scripts): one row per mapped conversion
    // --- method, each a representative projected CRS resolved from the
    // --- registry and executed through the Catalyst path.  Rows-only —
    // --- AuthorityDbSpec cross-checks checksums JVM-direct and the full
    // --- ~8.8k-code resolution sweep.
    "q_authority_sweep" -> ((s, _) => {
      import s.implicits._
      val frames = graft.geo.proj.AuthorityDb.representatives().map {
        case (method, rc, (plon, plat)) =>
          val k = graft.geo.proj.ProjString.parse(rc.spec)
          // transform's surface is degrees (PointEvaluator converts);
          // AuthoritySweepSparkSpec replays the identical evaluator
          Seq((plon, plat)).toDF("plon", "plat")
            .select(geo.transform(k, forward = true, outDims = 2,
              col("plon"), col("plat")).as("p"))
            .select(lit(method).as("method"),
              lit(rc.auth + ":" + rc.code).as("code"),
              (pmod(floor(col("p").getField("x") * 1e3), lit(1000000007L)) +
               pmod(floor(col("p").getField("y") * 1e3), lit(1000000007L)))
                .cast("long").as("checksum"),
              lit(null).cast("string").as("reason"))
      }
      // the auditable expected-fail tail: one row per conversion-method
      // family that does NOT resolve, with the typed reason and how many
      // registry codes it covers (AuthorityDb.unresolvedProjected)
      val unresolved = graft.geo.proj.AuthorityDb.unresolvedProjected()
        .groupBy(u => (u.methodKey, u.methodName))
        .toSeq.sortBy(_._1._1)
        .map { case ((mk, mn), us) =>
          val u0 = us.minBy(u => (u.auth, u.code))
          (s"unresolved:${if (mk.isEmpty) "none" else mk}",
            s"${u0.auth}:${u0.code}(+${us.size - 1})",
            None: Option[Long],
            s"$mn: ${u0.reason}")
        }.toDF("method", "code", "checksum", "reason")
      (frames.reduce(_ unionByName _) unionByName unresolved)
        .orderBy(col("method"))
    }),
    "q_mars_eqc" -> ((s, dir) => {
      // the IAU planetary registry end-to-end: Mars (2015) Sphere /
      // Equirectangular (IAU_2015:49910, method 1028 on the 3,396,190 m
      // sphere) resolved from the parsed database — eqc on a sphere is
      // closed-form (x = R·λ, y = R·φ), so the oracle replays it exactly
      val db = graft.geo.proj.AuthorityDb
      val rc = db.required("IAU_2015", "49910")(db.crs)
      val k = graft.geo.proj.ProjString.parse(rc.spec)
      val pts = geoLineitem(s, dir)
      val xy = geo.transform(k, forward = true, outDims = 2,
        col("lon"), col("lat"))
      pts.select(col("l_orderkey"), col("l_linenumber"),
          round(xy.getField("x") * 10).cast("long").as("x_dm"),
          round(xy.getField("y") * 10).cast("long").as("y_dm"))
    }),
    "q_db_helmert" -> ((s, dir) => {
      // a single registry datum-shift record driven end-to-end: EPSG:1612
      // "ED50 to WGS 84 (23)", a full 7-parameter position-vector Helmert
      // whose constants (m / arcsec / ppm with their uom codes) are parsed
      // from the authority database and normalized by AuthorityDb — the
      // oracle replays cart(intl) + the small-angle position-vector matrix
      // in pure SQL with the PUBLISHED parameter values hard-coded, so a
      // unit-conversion or sign mistake anywhere in the db parse breaks
      // the hash on all 60k rows.  Output is geocentric mm (no cart
      // inverse needed in SQL).
      val db = graft.geo.proj.AuthorityDb
      val st = db.required("EPSG", "1612")(db.helmertStepTokens)
      val ell = db.required("EPSG", "4230")(db.geodeticEllTokens)
      val k = graft.geo.proj.ProjString.parse(
        s"+proj=pipeline +step +proj=cart $ell +step $st")
      val pts = geoLineitem(s, dir)
      val xyz = geo.transform(k, forward = true, outDims = 3,
        col("lon"), col("lat"))
      pts.select(col("l_orderkey"), col("l_linenumber"),
          round(xyz.getField("x") * 100).cast("long").as("x_cm"),
          round(xyz.getField("y") * 100).cast("long").as("y_cm"),
          round(xyz.getField("z") * 100).cast("long").as("z_cm"))
    }),
    "q_crs_name" -> ((s, dir) => {
      // the SAME webmerc query with the CRS given by registry NAME
      // ("WGS 84 / Pseudo-Mercator") through the name front door — the
      // fifth front door to this oracle (kernel / WKT2 / ESRI WKT1 /
      // PROJJSON / authority db / name)
      val k = graft.geo.proj.OperationFactory.crsToCrs(
        "WGS 84", "WGS 84 / Pseudo-Mercator")
      val pts = geoLineitem(s, dir)
      val xy = geo.transform(k, forward = true, outDims = 2,
        col("lon"), col("lat"))
      pts.select(col("l_orderkey"), col("l_linenumber"),
          round(xy.getField("x") * 10).cast("long").as("x_dm"),
          round(xy.getField("y") * 10).cast("long").as("y_dm"))
    }),
    "q_authority_webmerc" -> ((s, dir) => {
      // the SAME webmerc query with the kernel resolved from the
      // authority database (EPSG:3857 via conversion 3856, method 1024)
      // instead of a kernel object / CRS text — the fourth front door;
      // results must hash-equal the q_webmerc_fwd oracle
      val db = graft.geo.proj.AuthorityDb
      val rc = db.required("EPSG", "3857")(db.crs)
      val k = graft.geo.proj.ProjString.parse(rc.spec)
      val pts = geoLineitem(s, dir)
      val xy = geo.transform(k, forward = true, outDims = 2,
        col("lon"), col("lat"))
      pts.select(col("l_orderkey"), col("l_linenumber"),
          round(xy.getField("x") * 10).cast("long").as("x_dm"),
          round(xy.getField("y") * 10).cast("long").as("y_dm"))
    }),
    // --- coordinate transforms (per-row numeric kernels) ---------------
    "q_webmerc_fwd" -> ((s, dir) => {
      val pts = geoLineitem(s, dir)
      val xy = geo.transform(WebMercKernel(), forward = true, outDims = 2,
        col("lon"), col("lat"))
      pts.select(col("l_orderkey"), col("l_linenumber"),
          xy.getField("x").as("wx"), xy.getField("y").as("wy"))
        .select(col("l_orderkey"), col("l_linenumber"),
          round(col("wx") * 10).cast("long").as("x_dm"),
          round(col("wy") * 10).cast("long").as("y_dm"))
    }),
    "q_wkt_webmerc" -> ((s, dir) => {
      // the SAME query built from WKT2 CRS text instead of a kernel
      // object: ProjString.parse lowers the PROJCRS through the Wkt
      // front-end; results must hash-equal the q_webmerc_fwd oracle
      val wkt =
        """PROJCRS["Web Mercator",
          |  BASEGEOGCRS["WGS 84 (sphere)",
          |    DATUM["Popular Visualisation Datum",
          |      ELLIPSOID["Sphere",6378137,0,LENGTHUNIT["metre",1]]],
          |    PRIMEM["Greenwich",0,ANGLEUNIT["degree",0.0174532925199433]]],
          |  CONVERSION["Popular Visualisation Pseudo-Mercator",
          |    METHOD["Popular Visualisation Pseudo Mercator"]],
          |  CS[Cartesian,2],
          |    AXIS["(E)",east], AXIS["(N)",north],
          |    LENGTHUNIT["metre",1]]""".stripMargin
      val k = graft.geo.proj.ProjString.parse(wkt)
      val pts = geoLineitem(s, dir)
      val xy = geo.transform(k, forward = true, outDims = 2,
        col("lon"), col("lat"))
      pts.select(col("l_orderkey"), col("l_linenumber"),
          round(xy.getField("x") * 10).cast("long").as("x_dm"),
          round(xy.getField("y") * 10).cast("long").as("y_dm"))
    }),
    "q_esri_webmerc" -> ((s, dir) => {
      // the SAME query built from the ESRI WKT1 dialect — the verbatim
      // ArcGIS spelling of Web Mercator (EPSG:3857) with D_-prefixed
      // datum, underscore method name and Auxiliary_Sphere parameter;
      // results must hash-equal the q_webmerc_fwd oracle
      val esri =
        """PROJCS["WGS_1984_Web_Mercator_Auxiliary_Sphere",
          |GEOGCS["GCS_WGS_1984",DATUM["D_WGS_1984",
          |SPHEROID["WGS_1984",6378137.0,298.257223563]],
          |PRIMEM["Greenwich",0.0],UNIT["Degree",0.0174532925199433]],
          |PROJECTION["Mercator_Auxiliary_Sphere"],
          |PARAMETER["False_Easting",0.0],PARAMETER["False_Northing",0.0],
          |PARAMETER["Central_Meridian",0.0],
          |PARAMETER["Standard_Parallel_1",0.0],
          |PARAMETER["Auxiliary_Sphere_Type",0.0],UNIT["Meter",1.0]]""".stripMargin
      val k = graft.geo.proj.ProjString.parse(esri)
      val pts = geoLineitem(s, dir)
      val xy = geo.transform(k, forward = true, outDims = 2,
        col("lon"), col("lat"))
      pts.select(col("l_orderkey"), col("l_linenumber"),
          round(xy.getField("x") * 10).cast("long").as("x_dm"),
          round(xy.getField("y") * 10).cast("long").as("y_dm"))
    }),
    "q_projjson_path" -> ((s, dir) => {
      // the SAME webmerc query built from PROJJSON CRS text — the third
      // interchange front-end (proj-string / WKT / PROJJSON) must produce
      // an identical plan; results hash-equal the q_webmerc_fwd oracle
      val json = """{
        "type": "ProjectedCRS",
        "name": "Web Mercator",
        "base_crs": {
          "name": "WGS 84 (sphere)",
          "datum": {
            "type": "GeodeticReferenceFrame",
            "name": "Popular Visualisation Datum",
            "ellipsoid": {"name": "Sphere", "radius": 6378137}
          },
          "coordinate_system": {"subtype": "ellipsoidal", "axis": [
            {"name": "Geodetic longitude", "abbreviation": "Lon",
             "direction": "east", "unit": "degree"},
            {"name": "Geodetic latitude", "abbreviation": "Lat",
             "direction": "north", "unit": "degree"}]}
        },
        "conversion": {
          "name": "Popular Visualisation Pseudo-Mercator",
          "method": {"name": "Popular Visualisation Pseudo Mercator",
                     "id": {"authority": "EPSG", "code": 1024}}
        },
        "coordinate_system": {"subtype": "Cartesian", "axis": [
          {"name": "Easting", "abbreviation": "E", "direction": "east", "unit": "metre"},
          {"name": "Northing", "abbreviation": "N", "direction": "north", "unit": "metre"}]}
      }"""
      val k = graft.geo.proj.ProjString.parse(json)
      val pts = geoLineitem(s, dir)
      val xy = geo.transform(k, forward = true, outDims = 2,
        col("lon"), col("lat"))
      pts.select(col("l_orderkey"), col("l_linenumber"),
          round(xy.getField("x") * 10).cast("long").as("x_dm"),
          round(xy.getField("y") * 10).cast("long").as("y_dm"))
    }),
    "q_crs_identify" -> ((s, dir) => {
      // CRS identification (the reference's proj_identify): each point's
      // UTM zone is computed in the scan, and the zone's proj-string
      // definition is identified against the builtin EPSG table DRIVER-side
      // (a catalog operation, like the operation factory's candidate
      // derivation); the oracle recomputes the matched authority code
      // arithmetically (UTM north codes are 32600+zone) and the per-zone
      // point counts from the same parquet — so a regression in the
      // identification path breaks the hash
      import graft.geo.proj.CrsIdentify
      val zones = geoLineitem(s, dir)
        .select((floor((col("lon") + lit(180.0)) / 6.0) + 1)
          .cast("int").as("zone"))
      val counts = zones.groupBy("zone").agg(count(lit(1)).as("n_pts"))
      val rows = (1 to 60).flatMap { z =>
        // keep the CANONICAL WGS84 UTM code per zone: the authority
        // database legitimately adds registry twins at 70 (other WGS84
        // datums sharing the zone projection, covered in CrsIdentifySpec)
        // that an arithmetic oracle cannot re-derive — the hash verifies
        // identification still surfaces the canonical code for all 60 zones
        CrsIdentify.identify(s"+proj=utm +zone=$z +datum=WGS84")
          .filter(m => m.confidence == 70 && m.code == s"epsg:${32600 + z}")
          .map(m => org.apache.spark.sql.Row(z, m.code, m.confidence))
      }
      val matches = s.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](
          scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("zone",
            org.apache.spark.sql.types.IntegerType, nullable = false),
          org.apache.spark.sql.types.StructField("code",
            org.apache.spark.sql.types.StringType, nullable = false),
          org.apache.spark.sql.types.StructField("confidence",
            org.apache.spark.sql.types.IntegerType, nullable = false))))
      counts.join(broadcast(matches), Seq("zone"))
        .select(col("zone"), col("code"), col("confidence"), col("n_pts"))
    }),
    "q_sql_surface" -> ((s, dir) => {
      // the SAME webmerc query expressed entirely as SQL TEXT through the
      // registered function surface (GraftFunctions / GraftExtensions):
      // proves spark.sql("... proj_fwd(...) ...") compiles to the same
      // whole-stage-codegen kernel plan — results hash-equal the
      // q_webmerc_fwd oracle
      graft.geo.expr.GraftFunctions.register(s)
      s.read.parquet(s"$dir/lineitem.parquet")
        .createOrReplaceTempView("lineitem_sqlsurface")
      s.sql("""
        SELECT l_orderkey, l_linenumber,
               CAST(round(pt.x * 10) AS BIGINT) AS x_dm,
               CAST(round(pt.y * 10) AS BIGINT) AS y_dm
        FROM (
          SELECT l_orderkey, l_linenumber,
                 proj_fwd('+proj=webmerc', lon, lat) AS pt
          FROM (
            SELECT l_orderkey, l_linenumber,
                   pmod(l_extendedprice * 1.000003D, 359.9D) - 179.95D AS lon,
                   pmod(l_discount * 1000.0D + l_partkey * 1.000007D, 169.9D)
                     - 84.95D AS lat
            FROM lineitem_sqlsurface) p) q""")
    }),
    "q_mill_fwd" -> ((s, dir) => {
      // Miller cylindrical on the authalic-style R=6400000 sphere —
      // exercises the PCyl kernel set through the Catalyst expression
      val pts = geoLineitem(s, dir)
      val xy = geo.transform(MillKernel(Ellipsoid(6400000.0, 0.0)),
        forward = true, outDims = 2, col("lon"), col("lat"))
      pts.select(col("l_orderkey"), col("l_linenumber"),
          round(xy.getField("x") * 10).cast("long").as("x_dm"),
          round(xy.getField("y") * 10).cast("long").as("y_dm"))
    }),
    "q_gall_fwd" -> ((s, dir) => {
      val pts = geoLineitem(s, dir)
      val xy = geo.transform(GallKernel(Ellipsoid(6400000.0, 0.0)),
        forward = true, outDims = 2, col("lon"), col("lat"))
      pts.select(col("l_orderkey"), col("l_linenumber"),
          round(xy.getField("x") * 10).cast("long").as("x_dm"),
          round(xy.getField("y") * 10).cast("long").as("y_dm"))
    }),
    "q_merc_roundtrip" -> ((s, dir) => {
      // fwd o inv closure (PROJ proj_roundtrip analogue): count rows whose
      // roundtrip error exceeds 1e-9 deg — must be 0 — plus total rows.
      val pts = geoLineitem(s, dir)
      val k = MercKernel(Ellipsoid.GRS80)
      val xy = geo.transform(k, forward = true, outDims = 2, col("lon"), col("lat"))
      val back = geo.transform(k, forward = false, outDims = 2,
        col("xy").getField("x"), col("xy").getField("y"))
      pts.withColumn("xy", xy)
        .withColumn("ll2", back)
        .select(
          (abs(col("ll2").getField("x") - col("lon")) +
            abs(col("ll2").getField("y") - col("lat"))).as("err"))
        .agg(count(lit(1)).as("n_rows"),
          sum(when(col("err") > 1e-9, 1L).otherwise(0L)).as("n_bad"))
    }),
    "q_utm_pipeline" -> ((s, dir) => {
      // proj-string front-end: wgs84 -> utm zone 31 -> back via pipeline
      // with a unitconvert step; closure must hold for in-zone points.
      val k = graft.geo.proj.ProjString.parse(
        "+proj=pipeline +step +proj=utm +zone=31 +ellps=WGS84 " +
          "+step +proj=utm +zone=31 +ellps=WGS84 +inv")
      val pts = geoLineitem(s, dir)
        .where(col("lon").between(0.0, 6.0) && col("lat").between(0.0, 80.0))
      val out = geo.transform(k, forward = true, outDims = 2, col("lon"), col("lat"))
      pts.withColumn("o", out)
        .select((abs(col("o").getField("x") - col("lon")) +
          abs(col("o").getField("y") - col("lat"))).as("err"))
        .agg(count(lit(1)).as("n_rows"),
          sum(when(col("err") > 1e-9, 1L).otherwise(0L)).as("n_bad"))
    }),
    // --- interleaved-span documents ------------------------------------
    "q_span_extract" -> ((s, dir) => {
      // build interleaved text+media spans per lineitem row, then run the
      // engine's geo-tag extraction; output the parsed microdegrees.
      val pts = geoLineitem(s, dir)
      val latU = round(col("lat") * 1e6).cast("long")
      val lonU = round(col("lon") * 1e6).cast("long")
      val docs = pts.select(col("l_orderkey"), col("l_linenumber"),
        array(
          struct(lit("text").as("kind"),
            concat(lit("row "), col("l_orderkey")).as("text"),
            lit(null).cast("string").as("media_ref"), lit(0).as("offset")),
          struct(lit("media").as("kind"), lit(null).cast("string").as("text"),
            concat(lit("img://"), col("pt_id"), lit("?geo="), latU, lit(","),
              lonU).as("media_ref"), lit(16).as("offset"))
        ).as("spans"))
      GeoEngine.withGeoTag(docs)
        .select(col("l_orderkey"), col("l_linenumber"),
          col("lat").cast("long").as("g_lat_u"),
          col("lon").cast("long").as("g_lon_u"))
    }),
    // --- tiling ---------------------------------------------------------
    "q_tile_occupancy" -> ((s, dir) => {
      val pts = geoLineitem(s, dir)
      pts.select(geo.cellId(col("lon"), col("lat"), 4).as("cell"))
        .groupBy(col("cell")).agg(count(lit(1)).as("n"))
        .select(
          shiftrightunsigned(col("cell"), 6 + 8).cast("long").as("face"),
          col("n"))
        .groupBy(col("face")).agg(sum(col("n")).as("n_points"))
    }),
    "q_tile_assign" -> ((s, dir) => {
      // full tile assignment at level 3, keyed by decoded (face, i, j) so
      // an independent SQL implementation of the quadratic cube tiling
      // can recompute every key.
      val pts = geoLineitem(s, dir)
      val dec = geo.cellDecode(geo.cellId(col("lon"), col("lat"), 3))
      pts.select(dec.getField("face").cast("long").as("face"),
          dec.getField("i").as("i"), dec.getField("j").as("j"))
        .groupBy("face", "i", "j").agg(count(lit(1)).as("n_points"))
    }),
    "q_tile_pyramid" -> ((s, dir) => {
      // multi-resolution rollup, levels 1..3: the parent-ladder pyramid
      // must equal direct per-level tiling (the oracle recomputes each
      // level independently from lon/lat in SQL).
      val pts = geoLineitem(s, dir)
      val dec = geo.cellDecode(col("cell"))
      GeoEngine.tilePyramid(pts, minLevel = 1, maxLevel = 3)
        .select(col("level").cast("long").as("level"),
          dec.getField("face").cast("long").as("face"),
          dec.getField("i").as("i"), dec.getField("j").as("j"),
          col("n_points"))
    }),
    // --- hexagonal tiling (the "H3" half of "H3/S2") ---------------------
    "q_hex_occupancy" -> ((s, dir) => {
      // planar pointy-top hexbin (250 km circumradius) over webmerc
      // metres: kernel projection + cube rounding, both replayed verbatim
      // by the DuckDB oracle.
      val pts = geoLineitem(s, dir)
      GeoEngine.hexOccupancy(pts, sizeMeters = 250000.0)
        .select(col("hq"), col("hr"), col("n_docs").as("n_points"))
    }),
    "q_gi_star" -> ((s, dir) => {
      // Getis-Ord Gi* hot-spot z-scores over 250 km hexbins of the
      // lineitem points.  Counts are the attribute, so every
      // cross-row aggregate is an exact long; the oracle replays the
      // hexbin chain, the ring-1 disk as the axial grid-distance
      // predicate, and the closed-form z from the same integers.
      val pts = geoLineitem(s, dir)
      graft.geo.engine.SpatialStats.giStarHex(pts, sizeMeters = 250000.0)
        .select(col("hq"), col("hr"), col("n_points"), col("wsum"),
          col("wn"), floor(col("z") * 1e6 + 0.5).cast("long").as("z_e6"))
    }),
    "q_gi_star_w" -> ((s, dir) => {
      // value-WEIGHTED Gi* (ArcGIS attribute hot spots): the cell
      // attribute is the exact-long sum of an integer value, not the
      // point count; the oracle swaps count(*) for sum(v) in the same
      // replay.
      val pts = geoLineitem(s, dir)
        .withColumn("v", pmod(col("l_orderkey"), lit(97)))
      graft.geo.engine.SpatialStats.giStarHex(pts, sizeMeters = 250000.0,
          valueCol = "v")
        .select(col("hq"), col("hr"), col("n_points").as("sum_v"),
          col("wsum"), col("wn"),
          floor(col("z") * 1e6 + 0.5).cast("long").as("z_e6"))
    }),
    "q_moran" -> ((s, dir) => {
      // global Moran's I (binary hex ring-1 weights, self excluded) over
      // the same 250 km hexbins — one row; the cross-product sum is
      // expanded so all data-dependent sums are exact longs.
      val pts = geoLineitem(s, dir)
      graft.geo.engine.SpatialStats.moranHex(pts, sizeMeters = 250000.0)
        .select(col("n_cells"), col("n_edges"),
          floor(col("i") * 1e6 + 0.5).cast("long").as("i_e6"))
    }),
    "q_idw" -> ((s, dir) => {
      // inverse-distance-weighted surface (600 km radius, power 2) of an
      // integer attribute over the 250 km hexbins; the oracle replays
      // the hexbin chain, the ring-2 fan with quantized weights, and the
      // exact-hit rule from the identical longs.
      val pts = geoLineitem(s, dir)
        .withColumn("v", pmod(col("l_orderkey"), lit(97)))
      graft.geo.engine.SpatialStats.idwHex(pts, sizeMeters = 250000.0,
          radiusMeters = 600000.0, valueCol = "v")
        .select(col("hq"), col("hr"), col("n_points"), col("sum_v"),
          col("wnum"), col("wden"),
          floor(col("estimate") * 1e9 + 0.5).cast("long").as("est_e9"))
    }),
    "q_hausdorff" -> ((s, dir) => {
      // trajectory-similarity join: symmetric discrete Hausdorff <= 50 km
      // between per-user drifting tracks (20 route classes ~130 km apart,
      // so only same-class users can pair).  The oracle replays the full
      // bipartite min/max over quantized chord-arc integers with the
      // same coverage rule — equality also proves the cell prefilter
      // drops no true pair.
      val pts = s.read.parquet(s"$dir/events.parquet")
        .where(pmod(col("event_id"), lit(4)) === 0)
        .select(col("user_id").as("traj_id"),
          (pmod(col("user_id"), lit(20)) * 1.7 - 17.0 + dayFrac * 0.5)
            .as("lon"),
          (pmod(col("user_id"), lit(10)) * 1.3 - 6.0 + dayFrac * 0.25)
            .as("lat"))
      GeoEngine.hausdorffJoin(pts, maxDistMeters = 50000.0)
        .select(col("left_id"), col("right_id"), col("h_um"))
    }),
    "q_frechet" -> ((s, dir) => {
      // ordered (discrete Frechet) trajectory-similarity join —
      // hash-verified since r5: the oracle replays the full Eiter-Mannila
      // DP as a recursive CTE with list-reduce rows (plus GeoEngineSpec's
      // brute-force DP equality and the q_hausdorff lower bound).  Tracks
      // drift MONOTONICALLY over the month (not the q_hausdorff
      // day-cycle: monotone twins stay alignable, so same-class pairs
      // survive).
      val us = unix_micros(col("ts").cast("timestamp"))
      val monthFrac = (us - lit(1704067200000000L)) / lit(2592000000000.0)
      val pts = s.read.parquet(s"$dir/events.parquet")
        .where(pmod(col("event_id"), lit(4)) === 0)
        .select(col("user_id").as("traj_id"), col("ts"),
          (pmod(col("user_id"), lit(20)) * 1.7 - 17.0 + monthFrac * 0.5)
            .as("lon"),
          (pmod(col("user_id"), lit(10)) * 1.3 - 6.0 + monthFrac * 0.25)
            .as("lat"))
      GeoEngine.frechetJoin(pts, maxDistMeters = 50000.0)
        .select(col("left_id"), col("right_id"), col("f_um"))
    }),
    "q_quadrat" -> ((s, dir) => {
      // quadrat CSR test over the same 250 km hexbins — one row; the
      // oracle replays the hexbin chain, the axial bounding-rectangle
      // frame and the closed-form VMR/chi2/z from the same integers.
      val pts = geoLineitem(s, dir)
      graft.geo.engine.SpatialStats.quadratHex(pts, sizeMeters = 250000.0)
        .select(col("n_points"), col("n_cells"), col("n_occupied"),
          floor(col("mean") * 1e9 + 0.5).cast("long").as("mean_e9"),
          floor(col("vmr") * 1e6 + 0.5).cast("long").as("vmr_e6"),
          floor(col("chi2") * 1e3 + 0.5).cast("long").as("chi2_e3"),
          floor(col("z") * 1e6 + 0.5).cast("long").as("z_e6"))
    }),
    "q_general_g" -> ((s, dir) => {
      // Getis-Ord General G (high/low clustering) over the same 250 km
      // hexbins — one row; edge products and the four raw moments are
      // exact integers (decimal for x^3/x^4), z replayed closed-form.
      val pts = geoLineitem(s, dir)
      graft.geo.engine.SpatialStats.generalGHex(pts, sizeMeters = 250000.0)
        .select(col("n_cells"), col("n_edges"),
          floor(col("g") * 1e12 + 0.5).cast("long").as("g_e12"),
          floor(col("e_g") * 1e12 + 0.5).cast("long").as("eg_e12"),
          floor(col("z") * 1e6 + 0.5).cast("long").as("z_e6"))
    }),
    "q_geary" -> ((s, dir) => {
      // Geary's C (binary hex ring-1 weights, self excluded) over the
      // same 250 km hexbins — one row; the squared-difference edge sum
      // is an exact long, C closed-form from it.
      val pts = geoLineitem(s, dir)
      graft.geo.engine.SpatialStats.gearyHex(pts, sizeMeters = 250000.0)
        .select(col("n_cells"), col("n_edges"), col("s_d2"),
          floor(col("c") * 1e6 + 0.5).cast("long").as("c_e6"))
    }),
    "q_join_counts" -> ((s, dir) => {
      // Cliff-Ord join-count statistics over the 250 km hexbins:
      // black = cell count >= 150.  BB/BW/WW are exact longs over
      // unordered edges (ordered list halved by integer DIV); the
      // hypergeometric expectations are closed-form doubles.
      val pts = geoLineitem(s, dir)
      graft.geo.engine.SpatialStats
        .joinCountsHex(pts, sizeMeters = 250000.0, threshold = 150L)
        .select(col("n_cells"), col("n_black"), col("n_edges"),
          col("bb"), col("bw"), col("ww"),
          floor(col("e_bb") * 1e6 + 0.5).cast("long").as("ebb_e6"),
          floor(col("e_bw") * 1e6 + 0.5).cast("long").as("ebw_e6"),
          floor(col("e_ww") * 1e6 + 0.5).cast("long").as("eww_e6"))
    }),
    "q_centrography" -> ((s, dir) => {
      // centrography (mean center / standard distance / deviational
      // ellipse) of the lineitem points per l_suppkey % 7 group.  The
      // engine quantizes webmerc coords to integer mm and keeps exact
      // decimal sums, so the oracle replays the identical integers
      // (HUGEINT sums in DuckDB) and the same closed-form doubles.
      val pts = geoLineitem(s, dir)
        .withColumn("grp", pmod(col("l_suppkey"), lit(7)))
      graft.geo.engine.Centrography.summary(pts, groupCols = Seq("grp"))
        .select(col("grp"), col("n_points"),
          floor(col("mean_x") * 1e3 + 0.5).cast("long").as("meanx_e3"),
          floor(col("mean_y") * 1e3 + 0.5).cast("long").as("meany_e3"),
          floor(col("std_dist") * 1e3 + 0.5).cast("long").as("std_e3"),
          floor(col("sde_major") * 1e3 + 0.5).cast("long").as("major_e3"),
          floor(col("sde_minor") * 1e3 + 0.5).cast("long").as("minor_e3"),
          floor(col("sde_theta") * 1e9 + 0.5).cast("long").as("theta_e9"))
    }),
    "q_convex_hull" -> ((s, dir) => {
      // per-group convex hull (mm-quantized webmerc, exact BigInt
      // monotone chain).  The hull itself is not SQL-constructible, so
      // the oracle checks the hull's SUPPORT FUNCTION on 16 integer
      // directions: max(x*dx + y*dy) over the hull VERTICES must equal
      // the max over ALL RAW POINTS (exact longs both sides) — the
      // defining property of a correct hull, hash-verified per group.
      val pts = geoLineitem(s, dir)
        .withColumn("grp", pmod(col("l_suppkey"), lit(7)))
      val hull = graft.geo.engine.Centrography
        .convexHull(pts, groupCols = Seq("grp"))
      hull.select(col("grp") +: col("n_points") +:
        HullDirs.zipWithIndex.map { case ((dx, dy), i) =>
          array_max(zip_with(col("hull_x_mm"), col("hull_y_mm"),
            (x, y) => x * lit(dx.toLong) + y * lit(dy.toLong)))
            .as(f"s$i%02d")
        }: _*)
    }),
    "q_kde" -> ((s, dir) => {
      // quartic kernel-density heatmap over 250 km hexes at 600 km
      // bandwidth (2-ring fan).  Each neighbor's kernel value is
      // quantized to an exact 2^20 long so the numerator is an exact
      // long; the oracle regenerates the delta fan and replays weight,
      // numerator and density from the identical integers.
      val pts = geoLineitem(s, dir)
      graft.geo.engine.SpatialStats
        .kdeHex(pts, sizeMeters = 250000.0, bandwidthMeters = 600000.0)
        .select(col("hq"), col("hr"), col("n_points"), col("wnum"),
          floor(col("density") * 1e18 + 0.5).cast("long").as("dens_e18"))
    }),
    "q_ripley_k" -> ((s, dir) => {
      // Ripley's K / Besag L point-pattern statistic over a deterministic
      // 1/23 sample of the lineitem points (the oracle replay is the
      // quadratic chord cross join; the engine side is the one-shuffle
      // cell-cover self-join).  Pair counts per radius rung are exact
      // longs; K and L are closed-form doubles from those longs.
      val pts = geoLineitem(s, dir).where(pmod(col("pt_id"), lit(23)) === 0)
      graft.geo.engine.SpatialStats
        .ripleysK(pts, Seq(100000.0, 200000.0, 400000.0), RipleyAreaM2)
        .select(col("n_points"), col("r_meters"), col("n_pairs"),
          floor(col("k") + 0.5).cast("long").as("k_e0"),
          floor(col("l") * 1e3 + 0.5).cast("long").as("l_e3"))
    }),
    "q_l_envelope" -> ((s, dir) => {
      // Monte-Carlo CSR envelope for Ripley's L over the 1/97 sample,
      // 19 sims.  Hash-verified since round 4: the sim generator is a
      // two-round integer LCG that DuckDB replays with exact integer
      // arithmetic, so the oracle recomputes the observed AND simulated
      // pair counts, the envelope and the p-value end-to-end.
      val pts = geoLineitem(s, dir).where(pmod(col("pt_id"), lit(97)) === 0)
      graft.geo.engine.SpatialStats.lEnvelope(pts,
          Seq(100000.0, 200000.0, 400000.0), RipleyAreaM2, nSims = 19)
        .select(col("r_meters"), col("n_points"), col("n_sims"),
          col("obs_pairs"), col("lo_pairs"), col("hi_pairs"), col("n_ge"),
          floor(col("obs_l") * 1e3 + 0.5).cast("long").as("obs_l_e3"),
          floor(col("hi_l") * 1e3 + 0.5).cast("long").as("hi_l_e3"),
          floor(col("p_upper") * 1e6 + 0.5).cast("long").as("p_e6"))
    }),
    "q_cross_k" -> ((s, dir) => {
      // bivariate (cross-type) Ripley's K between the even and odd
      // halves of the 1/23 lineitem sample — colocation of two point
      // types; the oracle replays the quadratic A x B chord join, the
      // engine runs the one-shuffle cell-cover join.
      val pts = geoLineitem(s, dir).where(pmod(col("pt_id"), lit(23)) === 0)
      val a = pts.where(pmod(col("pt_id"), lit(2)) === 0)
      val b = pts.where(pmod(col("pt_id"), lit(2)) === 1)
      graft.geo.engine.SpatialStats
        .crossK(a, b, Seq(100000.0, 200000.0, 400000.0), RipleyAreaM2)
        .select(col("n_a"), col("n_b"), col("r_meters"), col("n_pairs"),
          floor(col("k") + 0.5).cast("long").as("k_e0"),
          floor(col("l") * 1e3 + 0.5).cast("long").as("l_e3"))
    }),
    "q_local_moran" -> ((s, dir) => {
      // Anselin local Moran (LISA) over the same 250 km hexbins: per
      // occupied hex, I_i from exact neighbor sums (self excluded) and
      // the HH/LH/LL/HL quadrant by strict signs; isolates keep null I.
      val pts = geoLineitem(s, dir)
      graft.geo.engine.SpatialStats.localMoranHex(pts, sizeMeters = 250000.0)
        .select(col("hq"), col("hr"), col("n_points"), col("nbrsum"),
          col("nbrn"),
          floor(col("i_local") * 1e6 + 0.5).cast("long").as("i_e6"),
          col("quad").cast("long").as("quad"))
    }),
    "q_mk_trend" -> ((s, dir) => {
      // per-hex Mann-Kendall trend of daily event counts (the emerging-
      // hot-spot statistic over the space-time cube): positions fixed
      // per user, 250 km hexbins, day bins dense over the global range.
      // S, the tie term and 18*Var are exact longs; the continuity-
      // corrected z and the exact-median Sen slope are the only doubles,
      // all replayed in SQL from the same integers.
      val pts = s.read.parquet(s"$dir/events.parquet")
        .select(col("event_id"), col("ts"),
          (pmod(col("user_id"), lit(60)) * 3.0 - 90.0).as("lon"),
          (pmod(col("user_id"), lit(30)) * 2.0 - 30.0).as("lat"))
      graft.geo.engine.SpatialStats
        .mannKendallHex(pts, sizeMeters = 250000.0, binSeconds = 86400L)
        .select(col("hq"), col("hr"), col("n_bins"), col("s"),
          col("var_s18"),
          floor(col("z") * 1e6 + 0.5).cast("long").as("z_e6"),
          floor(col("sen_slope") * 1e9 + 0.5).cast("long").as("slope_e9"))
    }),
    "q_emerging" -> ((s, dir) => {
      // emerging hot-spot analysis (space-time Gi* + MK trend over the z
      // series + the category rule chain) over 250 km hexes x day bins
      // of the per-user event positions.  The ENTIRE composition — cube,
      // space-time neighborhood z landscape, flag history, z-series
      // Mann-Kendall, category CASE — replays in SQL because every
      // data-dependent quantity is an exact long or a double derived
      // from exact longs by an identical expression shape.
      val pts = s.read.parquet(s"$dir/events.parquet")
        .select(col("event_id"), col("ts"),
          (pmod(col("user_id"), lit(60)) * 3.0 - 90.0).as("lon"),
          (pmod(col("user_id"), lit(30)) * 2.0 - 30.0).as("lat"))
      graft.geo.engine.SpatialStats
        .emergingHotSpotsHex(pts, sizeMeters = 250000.0,
          binSeconds = 86400L, zCrit = 1.96, hotFrac = 0.6)
        .select(col("hq"), col("hr"), col("n_bins"), col("n_hot"),
          col("n_cold"),
          floor(col("last_z") * 1e6 + 0.5).cast("long").as("lastz_e6"),
          floor(col("mk_z") * 1e6 + 0.5).cast("long").as("mkz_e6"),
          col("category"))
    }),
    "q_hex_ring_join" -> ((s, dir) => {
      // hex ring-expansion candidate join (disk k=2 over 250 km hexes):
      // data side hex-binned map-side, query disk exploded + broadcast.
      // DuckDB replays the binning and filters a cross join by the axial
      // grid-distance identity — the pair sets must be identical.
      val data = geoLineitem(s, dir)
        .select(col("pt_id").as("data_id"), col("lon"), col("lat"))
      val queries = nationQueries(s, dir)
      GeoEngine.hexRingJoin(queries, data, sizeMeters = 250000.0, k = 2)
    }),
    // --- web tiles + geohash (the two SQL-expressible cell families) -----
    "q_tile_xyz" -> ((s, dir) => {
      // XYZ web-tile occupancy at z=6: the slippy-map spherical-Mercator
      // pyramid; the oracle recomputes x/y from the literally identical
      // closed-form discretization.
      val pts = geoLineitem(s, dir)
      val dec = geo.tileDecode(geo.tileId(col("lon"), col("lat"), 6))
      pts.select(dec.getField("x").as("x"), dec.getField("y").as("y"))
        .groupBy("x", "y").agg(count(lit(1)).as("n_points"))
    }),
    "q_quadkey" -> ((s, dir) => {
      // Bing quadkey occupancy at z=5 — the string-prefix pyramid key;
      // the oracle assembles the base-4 digit string in SQL.
      val pts = geoLineitem(s, dir)
      pts.select(geo.quadkey(geo.tileId(col("lon"), col("lat"), 5)).as("qk"))
        .groupBy("qk").agg(count(lit(1)).as("n_points"))
    }),
    "q_geohash" -> ((s, dir) => {
      // geohash occupancy at precision 4 — the oracle replays the 20-bit
      // alternating lon/lat interleave and the base-32 spelling in SQL.
      val pts = geoLineitem(s, dir)
      pts.select(geo.geohash(col("lon"), col("lat"), 4).as("gh"))
        .groupBy("gh").agg(count(lit(1)).as("n_points"))
    }),
    "q_isea_hex" -> ((s, dir) => {
      // ISEA equal-area hex DGGS occupancy (aperture 4, resolution 4)
      // over the deterministic 60k world lattice — the DGGS assignment is
      // a pure per-point function, and the lattice (not the corpus) is
      // what exercises all icosahedron faces; corpus-driven hex binning
      // stays covered by q_hex_occupancy / q_hex_ring_join.  Snyder's
      // icosahedral forward is not SQL-expressible, so the oracle pins
      // the occupancy as literal VALUES recomputed through the
      // JVM-direct binner (hash-verified since r5; the expression path
      // is pinned bit-for-bit to the same binner in HexIndexSpec).
      val pts = s.range(0, 60000).select(
        (pmod(col("id") * lit(7.1000003), lit(359.9)) - lit(179.95)).as("lon"),
        (pmod(col("id") * lit(3.7000007), lit(169.9)) - lit(84.95)).as("lat"))
      GeoEngine.iseaHexOccupancy(pts, resolution = 4, aperture = 4)
        .select(col("hex"), col("n_docs").as("n_points"))
    }),
    // --- point-in-polygon join ------------------------------------------
    "q_pip_join" -> ((s, dir) => {
      val pts = geoLineitem(s, dir)
      val joined = GeoEngine.pipJoin(s, pts, pipPolys, coverLevel = 4)
      joined.select(col("pt_id"), col("poly_id"))
    }),
    // --- kNN join --------------------------------------------------------
    "q_knn_chord" -> ((s, dir) => {
      // brute-force kNN, chord^2 metric (SQL-mirrorable); the radius-
      // escalating distance-join kNN with the geodesic metric is
      // validated in scalatest.
      val data = geoLineitem(s, dir)
        .select(col("pt_id").as("data_id"), col("lon"), col("lat"))
      val queries = nationQueries(s, dir)
      GeoEngine.knnBruteForce(queries, data, k = 3, geodesic = false)
        .select(col("query_id"), col("data_id"), col("rank").cast("long").as("rnk"))
    }),
    "q_knn_geodesic" -> ((s, dir) => {
      // radius-escalating distance-join kNN RANKED BY the Karney geodesic
      // metric.
      // Hash-verified since round 4 via the chord-metric twin: the
      // reported metric column is the SQL-replayable squared chord of
      // each returned neighbor, and the oracle re-derives membership and
      // rank by chord ordering — equal to the geodesic ordering on this
      // lattice (no rank-adjacent pair sits inside the (a/b)^6 ~= 2.04%
      // chord-vs-geodesic reorder band; the geodesic distances themselves
      // stay cross-checked by brute-force equality in GeoEngineSpec).
      // deterministic subset; the synthetic lineitem carries duplicate
      // (l_orderkey, l_linenumber) pairs, so pt_id is deduplicated to ONE
      // deterministic point per id (first by (lon, lat) order) — both the
      // knn input and the oracle replay the same QUALIFY filter
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("pt_id")).orderBy(col("lon"), col("lat"))
      def dataPts = geoLineitem(s, dir)
        .where(pmod(col("pt_id"), lit(12)) === 0)
        .withColumn("rn", row_number().over(w)).where(col("rn") === 1)
      val data = dataPts
        .select(col("pt_id").as("data_id"), col("lon"), col("lat"))
      val queries = nationQueries(s, dir)
      val res = GeoEngine.knnJoin(queries, data, k = 3, level = 6)
      // FRESH frames for the coordinate join-back (the knn result shares
      // lineage with queries/data; reusing them would self-join on
      // ambiguous attribute ids).  Rank is NOT emitted: geodesic and
      // chord ordering genuinely swap on rank-adjacent near-ties (ratio
      // inside the 2.04% band), so the oracle pins the top-3 MEMBERSHIP
      // and each member's chord — the geodesic ordering itself stays
      // cross-checked by brute-force equality in GeoEngineSpec.
      val qc = nationQueries(s, dir, "q_lon", "q_lat")
      val dc = dataPts
        .select(col("pt_id").as("data_id"), col("lon").as("d_lon"),
          col("lat").as("d_lat"))
      res.select("query_id", "data_id")
        .join(qc, "query_id").join(dc, "data_id")
        .select(col("query_id"), col("data_id"),
          floor(GeoEngine.chord2(col("q_lon"), col("q_lat"),
            col("d_lon"), col("d_lat")) * 1e9 + 0.5).cast("long").as("cd_e9"))
    }),
    // --- within-distance (range) join -----------------------------------
    "q_distance_join" -> ((s, dir) => {
      // cell-cover range join, chord^2 metric (SQL-mirrorable); the
      // geodesic-meters variant is validated against brute force in
      // GeoEngineSpec.  0.0022 chord^2 ~ a 300 km radius.
      val data = geoLineitem(s, dir)
        .select(col("pt_id").as("data_id"), col("lon"), col("lat"))
      val queries = nationQueries(s, dir)
      GeoEngine.distanceJoinChord(queries, data, maxChord2 = 0.0022)
        .select(col("query_id"), col("data_id"),
          floor(col("cd") * 1e12 + 0.5).cast("long").as("cd_e12"))
    }),
    // --- raster <-> vector ----------------------------------------------
    "q_raster_tile" -> ((s, dir) => {
      // raster: level-2 tiles seeded from part-derived points with a value
      // computable from (face,i,j); vector: lineitem points; stats per tile.
      val raster = rasterFromPart(s, dir)
      val pts = geoLineitem(s, dir)
      GeoEngine.rasterVectorStats(pts, raster, level = 2)
        .withColumn("d", geo.cellDecode(col("cell")))
        .select(col("d").getField("face").cast("long").as("face"),
          col("d").getField("i").as("i"), col("d").getField("j").as("j"),
          col("n_docs"),
          col("sum_value").cast("long").as("sum_value"))
    }),
    // --- dedup -----------------------------------------------------------
    "q_dedup_exact" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      Dedup.exact(docs).select(col("keep_id"), col("n_dups"))
    }),
    "q_incremental_dedup" -> ((s, dir) => {
      // snapshot dedup: prior corpus = the doc_id%3==0 third, new batch =
      // the whole table.  The Bloom prefilters are invisible to the
      // semantics, so the oracle is a plain text anti-join.
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val old = docs.where(pmod(col("doc_id"), lit(3)) === 0)
      Dedup.incrementalDedup(docs, old)
        .select(col("doc_id"), col("n_chars"))
    }),
    "q_dedup_pairs" -> ((s, dir) => {
      // exact-dup pair count via fingerprint equality — must equal
      // sum(C(n,2)) over identical-text groups (collision-free check).
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val planted = docs.unionByName(
        docs.withColumn("doc_id", col("doc_id") + lit(1000000)))
      Dedup.exactPairs(planted, idCol = "doc_id")
        .agg(count(lit(1)).as("n_pairs"))
    }),
    "q_dedup_minhash" -> ((s, dir) => {
      // plant near-dups (drop the last word) and count verified pairs per
      // left doc (rows-only driver check; exact recall asserted in
      // DataOpsSpec against planted ground truth).
      val docs = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id").cast("string").as("doc_id"), col("text"))
      val edited = docs
        .withColumn("doc_id", concat(lit("n"), col("doc_id")))
        .withColumn("text", regexp_replace(col("text"), "\\s+\\S+$", ""))
      Dedup.minhashLsh(docs.unionByName(edited), jaccardThreshold = 0.6)
        .groupBy("left_id").agg(count(lit(1)).as("n_matches"))
    }),
    "q_dedup_simhash" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id").cast("string").as("doc_id"), col("text"))
      val edited = docs
        .withColumn("doc_id", concat(lit("n"), col("doc_id")))
        .withColumn("text", regexp_replace(col("text"), "\\s+\\S+$", ""))
      Dedup.simhashPairs(docs.unionByName(edited), maxHamming = 3)
        .agg(count(lit(1)).as("n_pairs"),
          sum(col("hamming")).as("sum_hamming"))
    }),
    "q_dedup_jaccard" -> ((s, dir) => {
      // exact n-gram Jaccard pairs via the shingle inverted index; the
      // oracle recomputes the identical FNV-1a word-shingle hashes and
      // set Jaccard in SQL (hash-verified, unlike the LSH families whose
      // banding is probabilistic by design)
      val docs = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text"))
      Dedup.ngramJaccardPairs(docs, jaccardThreshold = 0.5, maxDf = 1000000)
        .select(col("left_id"), col("right_id"),
          floor(col("jaccard") * 1e7 + 0.5).cast("long").as("j_e7"))
    }),
    "q_dsir_score" -> ((s, dir) => {
      // DSIR importance scores (hashed-bigram bucket log-ratio weights,
      // target = every 50th doc): integer micro-unit weights make the
      // per-doc score an exact integer sum, so the oracle recomputes the
      // whole estimator — FNV bigram buckets, add-one smoothing, the
      // ln ratio rounded to 1e-6 — and must hash-match.  ln parity risk
      // (JVM intrinsic vs libm, both <= 1 ulp ~1e-16 relative): a weight
      // flips only when 1e6*(ln p - ln q) + 0.5 lands within that window
      // of an integer, ~1e-9 per bucket per run — the same accepted class
      // as the existing ln/tan-based webmerc oracles, though table-
      // amplified here (one flipped bucket shifts every doc containing it)
      import graft.data.Corpus
      val docs = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text"))
      val target = docs.where(pmod(col("doc_id"), lit(50)) === 0)
      val w = Corpus.dsirWeights(docs, target, n = 2, buckets = 512)
      docs.select(col("doc_id"),
        Corpus.dsirScore(w, 2, 512)(col("text")).as("score_e6"))
    }),
    "q_lm_logprob" -> ((s, dir) => {
      // hashed-bigram LM quality scoring (CCNet's KenLM filter with
      // hashed count tables): reference = every 10th doc; integer
      // micro-unit log tables make the per-doc log-prob sum exact, so
      // the oracle recomputes the whole model — unigram/bigram bucket
      // counts over the reference, the two smoothed ln tables, the
      // position-aligned bigram-minus-unigram sum (same ln-parity risk
      // class as q_dsir_score, see there)
      import graft.data.Corpus
      val docs = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text"))
      val ref = docs.where(pmod(col("doc_id"), lit(10)) === 0)
      val m = Corpus.lmTrain(ref, buckets = 1024)
      val sc = Corpus.lmScore(m)(col("text"))
      docs.select(col("doc_id"),
        sc.getField("lp_e6").as("lp_e6"),
        sc.getField("n_bi").cast("long").as("n_bi"))
    }),
    "q_dedup_spans" -> ((s, dir) => {
      // exact substring-duplicate spans (Lee et al. ExactSubstr dedup as
      // distributed window hashing): every 8-token run occurring >= 2
      // times corpus-wide, merged into per-doc token spans with the
      // globally-first occurrence exempted; the oracle replays the FNV
      // window hashes, the (occ, first-occurrence) marking and the
      // gaps-and-islands span merge in SQL (hash-verified)
      val docs = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text"))
      Dedup.duplicateSpans(docs, window = 8)
    }),
    "q_decontaminate" -> ((s, dir) => {
      // benchmark decontamination: eval set = the first 8 words of every
      // 50th document; flag corpus docs sharing word-3-gram shingles.
      // The oracle replays the identical FNV shingle chain in DuckDB.
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val evalSet = docs.where(pmod(col("doc_id"), lit(50)) === 0)
        .select(col("doc_id").as("eval_id"),
          array_join(slice(filter(split(col("text"), " "),
            w => w =!= lit("")), 1, 8), " ").as("text"))
      Dedup.decontaminate(docs, evalSet)
        .select(col("doc_id"), col("eval_id"), col("n_shared"),
          floor(col("overlap") * 1e7 + 0.5).cast("long").as("ov_e7"))
    }),
    "q_redact" -> ((s, dir) => {
      // plant synthetic PII into each document and scrub it; the oracle
      // replays the identical planting + regex chain
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val planted = concat(col("text"),
        lit(" contact u"), col("doc_id"), lit("@mail"),
        pmod(col("doc_id"), lit(7)), lit(".example.org or 555-"),
        pmod(col("doc_id") * 31, lit(900)) + 100, lit("-2368 see https://ex.org/d/"),
        col("doc_id"))
      docs.select(col("doc_id"),
        TextOps.redactPii(planted).as("clean"))
    }),
    "q_dedup_cluster" -> ((s, dir) => {
      // connected components over a deterministic dup graph (10-node
      // chains + a 20-leaf star); oracle = transitive closure in a
      // recursive CTE.  Exercises multi-hop label propagation.
      val chain = s.range(0, 100)
        .where(pmod(col("id"), lit(10)) =!= 9)
        .select(col("id").as("left_id"), (col("id") + 1).as("right_id"))
      val star = s.range(201, 221)
        .select(lit(200L).as("left_id"), col("id").as("right_id"))
      Dedup.connectedComponents(chain.unionByName(star))
    }),
    "q_dedup_embedding" -> ((s, dir) => {
      val vecs = s.read.parquet(s"$dir/embeddings.parquet")
      val jittered = vecs
        .withColumn("vec_id", col("vec_id") + lit(1000000))
        .withColumn("embedding",
          transform(col("embedding"), x => x * lit(1.0001f)))
      Dedup.embeddingNearDups(vecs.unionByName(jittered),
          cosineThreshold = 0.9999, bits = 8)
        .agg(count(lit(1)).as("n_pairs"))
    }),
    "q_semantic_dedup" -> ((s, dir) => {
      // SemDeDup keep-first pruning, hash-verified: centroids are the 16
      // smallest vec_ids (replayable in SQL), threshold 0.35 sits >3e-4
      // from every within-cluster cosine and the assignment top-1/top-2
      // gap is >2e-4, so the float boundary cannot flip either side.
      val vecs = s.read.parquet(s"$dir/embeddings.parquet")
      val cents = vecs.where(col("vec_id") < 16).orderBy("vec_id")
        .select("embedding").collect()
        .map(_.getSeq[Float](0).toArray)
      Dedup.semanticDedup(vecs, threshold = 0.35, centroids = cents)
        .select(col("vec_id"), col("cluster"),
          col("kept").cast("long").as("kept"))
    }),
    // --- similarity search ----------------------------------------------
    "q_ann_cosine" -> ((s, dir) => {
      val vecs = s.read.parquet(s"$dir/embeddings.parquet")
      val queries = vecs.where(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("embedding"))
      Ann.bruteForceTopK(queries, vecs, k = 5)
        .select(col("query_id"), col("vec_id"), col("rank").cast("long").as("rnk"))
    }),
    "q_ann_ivf" -> ((s, dir) => {
      // IVF recall vs exact top-k (rows-only; recall floor asserted in
      // DataOpsSpec): output per-query hit count of IVF vs brute force.
      val vecs = s.read.parquet(s"$dir/embeddings.parquet")
      val queries = vecs.where(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("embedding"))
      val exact = Ann.bruteForceTopK(queries, vecs, k = 5)
        .select(col("query_id"), col("vec_id"))
      val ivf = Ann.ivfTopK(queries, vecs, k = 5, nCentroids = 16, nProbe = 8)
        .select(col("query_id"), col("vec_id"))
      exact.intersect(ivf).groupBy("query_id")
        .agg(count(lit(1)).as("n_hits"))
    }),
    "q_ann_pq" -> ((s, dir) => {
      // IVF-PQ recall vs exact top-k (rows-only; recall floor + code
      // determinism asserted in DataOpsSpec): per-query hit counts of the
      // ADC-candidates-then-exact-rerank path vs brute force.
      val vecs = s.read.parquet(s"$dir/embeddings.parquet")
      val queries = vecs.where(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("embedding"))
      val exact = Ann.bruteForceTopK(queries, vecs, k = 5)
        .select(col("query_id"), col("vec_id"))
      // m=16 x ksub=16 = 8-byte codes on the 64-dim embeddings; rerank=64
      // brings PQ within ~2 hits of the IVF ceiling on this corpus
      // (measured sweep: m=4/32 -> 24, m=8/64 -> 34, m=16/64 -> 35 of the
      // IVF path's 37/50)
      val pq = Ann.ivfPqTopK(queries, vecs, k = 5, nCentroids = 16, nProbe = 8,
          m = 16, ksub = 16, rerank = 64)
        .select(col("query_id"), col("vec_id"))
      exact.intersect(pq).groupBy("query_id")
        .agg(count(lit(1)).as("n_hits"))
    }),
    // --- text analysis ---------------------------------------------------
    "q_token_count" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      docs.select(col("doc_id"),
        TextOps.tokenCountWs(col("text")).cast("long").as("n_ws"),
        TextOps.tokenCountBpe(col("text")).cast("long").as("n_bpe"))
    }),
    "q_bpe_tokens" -> ((s, dir) => {
      // trained-subword token counts (rows-only: greedy BPE apply is not
      // SQL-expressible; merges + codegen apply are pinned in DataOpsSpec
      // against the Sennrich worked example).  The regex-class count
      // upper-bounds the subword count, asserted here in-query: a
      // violation would zero the row count and fail the driver check.
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val model = graft.data.Bpe.train(docs, numMerges = 200)
      docs.select(col("doc_id"),
          graft.data.dataops.bpeTokenCount(col("text"), model)
            .cast("long").as("n_subword"),
          TextOps.tokenCountBpe(col("text")).cast("long").as("n_pre"))
        .where(col("n_subword") >= col("n_pre"))
    }),
    "q_quality" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val nChars = length(col("text")).cast("long")
      val nTokens = TextOps.tokenCountWs(col("text")).cast("long")
      val nPunct = size(regexp_extract_all(col("text"),
        lit("[^A-Za-z0-9\\s]"), lit(0))).cast("long")
      val nStop = TextOps.stopwordHits(col("text"), TextOps.stopwordsEn).cast("long")
      docs.select(col("doc_id"), nChars.as("n_chars"), nTokens.as("n_tokens"),
        floor(nPunct * 1000000L / greatest(nChars, lit(1L))).cast("long").as("punct_ppm"),
        floor(nStop * 1000000L / greatest(nTokens, lit(1L))).cast("long").as("stop_ppm"))
    }),
    "q_lang_id" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      docs.select(col("doc_id"), TextOps.langId(col("text")).as("lang_guess"))
    }),
    "q_text_stats" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      docs.select(col("doc_id"),
        length(col("text")).cast("long").as("n_chars_m"),
        (length(col("text")) -
          length(regexp_replace(col("text"), lit(" "), lit("")))).cast("long")
          .as("n_spaces"))
    }),
    "q_repetition" -> ((s, dir) => {
      // Gopher-style repetition signals per document (word/bigram/trigram
      // totals, distinct counts, top-gram frequency) — single-pass custom
      // expression; the oracle replays it with unnest + window leads +
      // group-by over the same alnum-run tokenization.
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val r = TextOps.repetitionStats(col("text"))
      docs.select(
        col("doc_id"),
        r.getField("words").cast("long").as("words"),
        r.getField("distinct_words").cast("long").as("distinct_words"),
        r.getField("top_word").cast("long").as("top_word"),
        r.getField("bigrams").cast("long").as("bigrams"),
        r.getField("distinct_bigrams").cast("long").as("distinct_bigrams"),
        r.getField("top_bigram").cast("long").as("top_bigram"),
        r.getField("trigrams").cast("long").as("trigrams"),
        r.getField("distinct_trigrams").cast("long").as("distinct_trigrams"),
        r.getField("top_trigram").cast("long").as("top_trigram"))
    }),
    "q_split_assign" -> ((s, dir) => {
      // deterministic content-addressed train/valid/test split: the
      // fingerprint bucketed mod 100 (90/5/5), aggregated per (lang,
      // split).  The oracle replays the FNV fold + bucketing in SQL.
      val docs = s.read.parquet(s"$dir/documents.parquet")
      docs.select(col("lang"), TextOps.splitAssign(col("text")).as("split"))
        .groupBy("lang", "split").agg(count(lit(1)).as("n_docs"))
    }),
    "q_url_normalize" -> ((s, dir) => {
      // URL canonicalization over four planted messy-URL shapes (mixed
      // case, www, userinfo, default ports, tracking params, fragments,
      // duplicate/trailing slashes, scheme-less); the oracle replays the
      // identical plant + normalization chain step for step in SQL.
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val u = plantedUrl(col("doc_id"))
      val host = UrlOps.urlHost(u)
      docs.select(col("doc_id"),
        UrlOps.normalizeUrl(u).as("url_norm"),
        host.as("host"),
        UrlOps.registeredDomain(host).as("domain"))
    }),
    "q_url_dedup" -> ((s, dir) => {
      // URL-level exact dedup: the variant-3 plant collides on
      // doc_id % 97, so those urls form dup groups; keep the smallest
      // doc id per normalized url.  The engine groups on
      // xxhash64(normalized url); the oracle groups on the normalized
      // string itself (identical verdicts absent 64-bit collisions).
      val docs = s.read.parquet(s"$dir/documents.parquet")
      UrlOps.dedupByUrl(docs.withColumn("url", plantedUrl(col("doc_id"))))
        .select(col("keep_id"), col("n_dups"))
    }),
    "q_domain_mix" -> ((s, dir) => {
      // documents + distinct hosts per registered domain with per-million
      // corpus share — the domain-mixing weight table.
      val docs = s.read.parquet(s"$dir/documents.parquet")
      UrlOps.domainMix(docs.withColumn("url", plantedUrl(col("doc_id"))))
    }),
    "q_paragraph_dedup" -> ((s, dir) => {
      // paragraph-level exact dedup (C4/CCNet boilerplate pass): build
      // 3-paragraph docs where paragraph 1 is one of three shared
      // boilerplate headers; the dedup must keep each duplicated
      // paragraph only at its first (min (doc_id, idx)) occurrence and
      // reassemble the survivors in original order.  The oracle replays
      // the construction + first-occurrence rule with windows over the
      // exploded paragraphs.
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val words = filter(split(col("text"), " "), w => w =!= lit(""))
      val built = docs.select(col("doc_id"),
        concat_ws("\n",
          concat(lit("terms of service v"), pmod(col("doc_id"), lit(3))),
          array_join(slice(words, 1, 8), " "),
          array_join(slice(words, 9, 1 << 20), " ")).as("text"))
      graft.data.Corpus.paragraphDedup(built)
    }),
    "q_stratified_sample" -> ((s, dir) => {
      // deterministic stratified sample: exactly 40 docs per language,
      // chosen by smallest content fingerprint via the partial-aggregable
      // kth-smallest threshold (no stratum is ever sorted); the oracle
      // replays the FNV rank + a row_number window per stratum.
      val docs = s.read.parquet(s"$dir/documents.parquet")
      graft.data.Corpus.stratifiedSample(docs, "lang", n = 40)
        .select(col("lang"), col("doc_id"))
    }),
    "q_geo_sample" -> ((s, dir) => {
      // geo-balanced sampling: at most 5 docs per level-3 cell, chosen by
      // smallest content fingerprint (anti-hotspot-bias for geo-tagged
      // training corpora); the oracle replays the cube-face tiling + the
      // FNV rank + a per-(face,i,j) window.
      val pts = geoLineitem(s, dir)
        .withColumn("txt", concat(lit("pt "), col("pt_id")))
      GeoEngine.geoSample(pts, level = 3, nPerCell = 5,
        idCol = "pt_id", textCol = "txt")
        .select(col("pt_id"))
    }),
    "q_pack_sequences" -> ((s, dir) => {
      // token-budget sequence packing: concatenate-and-cut at 256 tokens
      // over a deterministic multiplicative-hash order (distributed
      // prefix sum); the oracle replays the same order + running sum
      // with a single window.
      val docs = s.read.parquet(s"$dir/documents.parquet")
      graft.data.Corpus.packSequences(docs, budget = 256)
    }),
    "q_fingerprint" -> ((s, dir) => {
      // per-document FNV-1a rolling fingerprint, hash-verified against a
      // DuckDB HUGEINT reimplementation of the same normalize+fold.
      val docs = s.read.parquet(s"$dir/documents.parquet")
      docs.select(col("doc_id"), dataops.fingerprint(col("text")).as("fp"))
    }),
    "q_hgridshift" -> ((s, dir) => {
      // NTv2 grid shift over lineitem-derived points inside the 4x4 test
      // grid; the oracle mirrors the bilinear kernel (incl. float grid
      // quantization) in pure SQL, so outputs hash-match bit-for-bit.
      val k = graft.geo.proj.ProjString.parse(
        "+proj=pipeline +step +proj=unitconvert +xy_in=deg +xy_out=rad " +
          "+step +proj=hgridshift +grids=tests/test_hgrid_little_endian.gsb " +
          "+step +proj=unitconvert +xy_in=rad +xy_out=deg")
      val li = s.read.parquet(s"$dir/lineitem.parquet")
        .withColumn("lon",
          lit(4.05) + (col("l_partkey") * 7 + col("l_suppkey")) % 2900 / lit(1000.0))
        .withColumn("lat",
          lit(52.05) + (col("l_orderkey") * 11 + col("l_linenumber")) % 2900 / lit(1000.0))
      val out = geo.transform(k, forward = true, outDims = 2, col("lon"), col("lat"))
      li.withColumn("o", out)
        .select(col("l_orderkey"), col("l_linenumber"),
          floor(col("o").getField("x") * 1e7 + 0.5).as("lon_e7"),
          floor(col("o").getField("y") * 1e7 + 0.5).as("lat_e7"))
    }),
    "q_point_motion" -> ((s, dir) => {
      // epoch-aware front door (CoordinateMetadata + point-motion
      // composition): ETRS89@2000.0 -> geocentric ETRS89@2012.5 through a
      // NTv2_Vel-method point-motion op on the NKG velocity extract (the
      // registry's own velocity grids are CDN assets; the extract ships
      // with the reference tests, so it is handed in via the
      // extraPointMotion seam).  The composed kernel is: static
      // EPSG:4258->EPSG:4936 leg (deg->rad, cart), then set/deformation/
      // set in the geocentric frame.  Output is geocentric cm like
      // q_db_helmert; the oracle replays cart + the bilinear velocity
      // field + the ENU->XYZ rotation + the 12.5-year shift in pure SQL.
      import graft.geo.proj.{AuthorityDb, CoordinateMetadata, OperationFactory}
      val pmo = AuthorityDb.PointMotionOp("TEST:NKGVEL",
        "NKG velocity extract motion", "EPSG:4936", "geocentric", "1070",
        "tests/nkgrf03vel_realigned_extract.tif", 0.005)
      val k = OperationFactory.crsToCrs(
        CoordinateMetadata("EPSG:4258", Some(2000.0)),
        CoordinateMetadata("EPSG:4936", Some(2012.5)),
        OperationFactory.CrsToCrsOptions(extraPointMotion = Seq(pmo)))
      val li = s.read.parquet(s"$dir/lineitem.parquet")
        .withColumn("lon",
          lit(21.17) + (col("l_partkey") * 7 + col("l_suppkey")) % 460 / lit(1000.0))
        .withColumn("lat",
          lit(62.87) + (col("l_orderkey") * 11 + col("l_linenumber")) % 150 / lit(1000.0))
      val out = geo.transform(k, forward = true, outDims = 3,
        col("lon"), col("lat"))
      li.select(col("l_orderkey"), col("l_linenumber"),
        round(out.getField("x") * 100).cast("long").as("x_cm"),
        round(out.getField("y") * 100).cast("long").as("y_cm"),
        round(out.getField("z") * 100).cast("long").as("z_cm"))
    }),
    "q_crs_planner" -> ((s, dir) => {
      // per-point candidate dispatch (reference pj_get_suggested_operation
      // semantics): inside the test grid's bbox the high-accuracy NTv2
      // shift applies; everywhere else the grid-free constant-offset
      // fallback.  The oracle replays the same CASE in SQL.
      import graft.geo.proj.{CrsPlanner, ProjString}
      import graft.geo.kernels.PipelineKernel
      val toRad = ProjString.parse("+proj=unitconvert +xy_in=deg +xy_out=rad")
      val toDeg = ProjString.parse("+proj=unitconvert +xy_in=rad +xy_out=deg")
      val gridOp = ProjString.parse(
        "+proj=hgridshift +grids=tests/test_hgrid_little_endian.gsb")
      val offOp = ProjString.parse("+proj=geogoffset +dlon=18 +dlat=-36")
      val planner = CrsPlanner.kernel(Seq(
        CrsPlanner.Candidate(gridOp, 4.0005, 52.0005, 6.9995, 54.9995,
          accuracy = 0.05),
        CrsPlanner.Candidate(offOp, -180, -90, 180, 90,
          accuracy = 5.0, gridFree = true)))
      val k = PipelineKernel(Array(toRad, planner, toDeg))
      val li = s.read.parquet(s"$dir/lineitem.parquet")
        .withColumn("lon",
          lit(3.05) + (col("l_partkey") * 7 + col("l_suppkey")) % 3900 / lit(1000.0))
        .withColumn("lat",
          lit(51.05) + (col("l_orderkey") * 11 + col("l_linenumber")) % 3900 / lit(1000.0))
      val out = geo.transform(k, forward = true, outDims = 2, col("lon"), col("lat"))
      li.withColumn("o", out)
        .select(col("l_orderkey"), col("l_linenumber"),
          floor(col("o").getField("x") * 1e7 + 0.5).as("lon_e7"),
          floor(col("o").getField("y") * 1e7 + 0.5).as("lat_e7"))
    }),
    "q_vgridshift" -> ((s, dir) => {
      // vertical geoid-style shift from a GTX grid (NKG velocity z
      // extract, 5x5 real-valued nodes, ships with the reference tests);
      // the oracle embeds the 25 node values and replays the bilinear
      // weights in SQL.  +multiplier=1 so z_out = z + value.
      val k = graft.geo.proj.ProjString.parse(
        "+proj=pipeline +step +proj=unitconvert +xy_in=deg +xy_out=rad" +
          " +step +proj=vgridshift +grids=nkgrf03vel_realigned_z_extract.gtx +multiplier=1" +
          " +step +proj=unitconvert +xy_in=rad +xy_out=deg")
      val li = s.read.parquet(s"$dir/lineitem.parquet")
        .withColumn("lon",
          lit(21.05) + (col("l_partkey") * 7 + col("l_suppkey")) % 600 / lit(1000.0))
        .withColumn("lat",
          lit(62.87) + (col("l_orderkey") * 11 + col("l_linenumber")) % 290 / lit(1000.0))
        .withColumn("z", (col("l_linenumber") * 3).cast("double"))
      val out = geo.transform(k, forward = true, outDims = 3,
        col("lon"), col("lat"), col("z"))
      li.select(col("l_orderkey"), col("l_linenumber"),
        floor(out.getField("z") * 1e7 + 0.5).cast("long").as("z_e7"))
    }),
    "q_crs_factory" -> ((s, dir) => {
      // operation-FACTORY-derived planner (no hand-supplied candidates):
      // the CRS descriptions alone yield [NTv2 grid inside its header
      // extent, @null identity elsewhere]; the oracle replays the same
      // per-point CASE in SQL.  Point lattice is offset 0.0004 deg so no
      // point sits within 4e-4 of the grid's 4/7/52/55-degree edges
      // (the planner's deg->rad->deg round-trip is not bit-stable at the
      // boundary).
      val k = graft.geo.proj.OperationFactory.crsToCrs(
        "+proj=longlat +ellps=GRS80" +
          " +nadgrids=@tests/test_hgrid_little_endian.gsb,@null",
        "+proj=longlat +datum=WGS84")
      val li = s.read.parquet(s"$dir/lineitem.parquet")
        .withColumn("lon",
          lit(3.0504) + (col("l_partkey") * 7 + col("l_suppkey")) % 3900 / lit(1000.0))
        .withColumn("lat",
          lit(51.0504) + (col("l_orderkey") * 11 + col("l_linenumber")) % 3900 / lit(1000.0))
      val out = geo.transform(k, forward = true, outDims = 2, col("lon"), col("lat"))
      li.withColumn("o", out)
        .select(col("l_orderkey"), col("l_linenumber"),
          floor(col("o").getField("x") * 1e7 + 0.5).as("lon_e7"),
          floor(col("o").getField("y") * 1e7 + 0.5).as("lat_e7"))
    }),
    "q_tinshift" -> ((s, dir) => {
      // TIN barycentric shift (triangulation JSON) over points planted
      // strictly inside the model's single triangle; SQL oracle evaluates
      // the same barycentric formula.
      val k = graft.geo.proj.ProjString.parse(
        "+proj=tinshift +file=tests/tinshift_crs_implicit.json")
      val li = s.read.parquet(s"$dir/lineitem.parquet")
        .withColumn("u", (col("l_partkey") * 3 + col("l_suppkey")) % 900)
        .withColumn("v", (col("l_orderkey") * 5 + col("l_linenumber")) % 900)
        .withColumn("lon", lit(2.0) + least(col("u"), col("v")) / lit(1000.0))
        .withColumn("lat", lit(49.0) + (greatest(col("u"), col("v")) + 1) / lit(1000.0))
      val out = geo.transform(k, forward = true, outDims = 2, col("lon"), col("lat"))
      li.withColumn("o", out)
        .select(col("l_orderkey"), col("l_linenumber"),
          floor(col("o").getField("x") * 1e7 + 0.5).as("x_e7"),
          floor(col("o").getField("y") * 1e7 + 0.5).as("y_e7"))
    }),
    "q_event_tiles" -> ((s, dir) => {
      // event-time tumbling-window x tile-face occupancy over the events
      // stream table (batch view of the streaming aggregation)
      val ev = s.read.parquet(s"$dir/events.parquet")
        .withColumn("lon",
          pmod(col("user_id") * lit(17.234567), lit(359.9)) - lit(179.95))
        .withColumn("lat",
          pmod(col("user_id") * lit(23.876543), lit(169.9)) - lit(84.95))
      val dec = geo.cellDecode(geo.cellId(col("lon"), col("lat"), 2))
      ev.groupBy(window(col("ts"), "1 hour").getField("start").as("w_start"),
          dec.getField("face").cast("long").as("face"))
        .agg(count(lit(1)).as("n_events"),
          round(sum(col("value")) * 1000).cast("long").as("sum_value_milli"))
        .select(date_format(col("w_start"), "yyyy-MM-dd HH:mm:ss").as("w_start"),
          col("face"), col("n_events"), col("sum_value_milli"))
    }),
    "q_stay_points" -> ((s, dir) => {
      // stay-point detection (anchor-scan, radius 1km / min 30min) over
      // per-user positions held CONSTANT within quarter-day blocks and
      // >=27km apart across blocks — a geometry where the sequential
      // anchor walk provably reduces to gaps-and-islands on position
      // change, so the mapPartitions operator is hash-verifiable in
      // plain SQL (islands with duration >= 30min; the engine's vector-
      // mean centroid of identical points equals the position to <1e-9,
      // absorbed by the 1e-7 output rounding).
      val pts = s.read.parquet(s"$dir/events.parquet")
        .select(col("event_id"), col("user_id"), col("ts"),
          (pmod(col("user_id"), lit(60)) * 3.0 - 90.0
            + floor(dayFrac * 4.0) * 0.5).as("lon"),
          (pmod(col("user_id"), lit(30)) * 2.0 - 30.0
            + floor(dayFrac * 8.0) * 0.25).as("lat"))
      GeoEngine.stayPoints(pts, Seq("user_id"),
          maxRadiusMeters = 1000.0, minDurationSeconds = 1800L)
        .select(col("user_id"), col("stay_seq"), col("n_points"),
          floor(col("stay_lon") * 1e7 + 0.5).cast("long").as("lon_e7"),
          floor(col("stay_lat") * 1e7 + 0.5).cast("long").as("lat_e7"),
          col("first_us"), col("last_us"))
    }),
    "q_trajectory" -> ((s, dir) => {
      // trajectory segmentation: split per-user point streams at >6h time
      // gaps OR >100km spatial jumps (chord metric, replayed verbatim in
      // SQL).  Positions are a continuous function of time-of-day per
      // user (smooth ~50km/6h drift) that wraps at midnight (>=160km
      // jump), so both split rules fire and thresholds sit far from any
      // borderline.  Same one-shuffle shape as q_sessionize.
      val pts = eventPoints(s, dir, every4 = false, "event_id", "user_id", "ts")
      GeoEngine.trajectorySegments(pts, Seq("user_id"), maxGap = "6 hours",
          maxJumpMeters = 100000.0, tiebreak = "event_id")
        .groupBy(col("user_id"), col("segment_seq"))
        .agg(count(lit(1)).as("n_points"),
          unix_micros(min(col("ts")).cast("timestamp")).as("first_us"),
          unix_micros(max(col("ts")).cast("timestamp")).as("last_us"))
    }),
    "q_od_flows" -> ((s, dir) => {
      // origin-destination flow matrix over the q_trajectory drift
      // streams: segment at the same thresholds, endpoints by the same
      // (ts, event_id) total order, tile both ends at level 6, count
      // trips.  Keys are decoded (face,i,j) pairs so the full chain —
      // lag/flag/running-sum segmentation, endpoint argmin/argmax,
      // quadratic cube tiling on BOTH endpoints — replays verbatim in
      // SQL.  One-point segments are dropped (engine default minPoints=2,
      // mirrored by the oracle's per-segment count filter).
      val pts = eventPoints(s, dir, every4 = false, "event_id", "user_id", "ts")
      val flows = GeoEngine.odFlows(pts, Seq("user_id"), level = 6,
        maxGap = "6 hours", maxJumpMeters = 100000.0, tiebreak = "event_id")
      val o = geo.cellDecode(col("o_cell"))
      val d = geo.cellDecode(col("d_cell"))
      flows.select(
        o.getField("face").cast("long").as("o_face"),
        o.getField("i").as("o_i"), o.getField("j").as("o_j"),
        d.getField("face").cast("long").as("d_face"),
        d.getField("i").as("d_i"), d.getField("j").as("d_j"),
        col("n_trips"))
    }),
    "q_dbscan" -> ((s, dir) => {
      // density clustering (grid DBSCAN) over engineered geometry built
      // arithmetically from the customer table: 24 chains along latitude
      // (222.6 m point spacing; eps 500 m reaches exactly 2 chain steps,
      // so each chain is one density-reachable cluster with border ends,
      // and every custkey%97==0 point is relocated to an isolated
      // far-south spot — noise).  minPts=5.  The ENTIRE algorithm — pair
      // list, degree counts, core set, transitive closure over core-core
      // edges, border min-label — is replayed in SQL (recursive CTE),
      // with every pair >=50 m clear of the eps boundary so the float
      // paths cannot flip membership.
      val noise = pmod(col("pt_id"), lit(97)) === 0
      val cid = pmod(col("pt_id"), lit(24))
      val pts = s.read.parquet(s"$dir/customer.parquet")
        .select(col("c_custkey").cast("long").as("pt_id"))
        .withColumn("lon",
          when(noise, pmod(col("pt_id"), lit(40)) * 0.5 - 140.0)
            .otherwise(pmod(cid, lit(6)) * 50.0 - 125.0))
        .withColumn("lat",
          when(noise, lit(-75.0))
            .otherwise(floor(cid / lit(6)) * 30.0 - 45.0
              + floor(col("pt_id") / lit(24)) * 0.002))
      GeoEngine.dbscanChord(pts, "pt_id",
          GeoEngine.maxChord2For(500.0), minPts = 5)
        .select(col("pt_id"), col("is_core").cast("long").as("is_core"),
          col("cluster_id"))
    }),
    "q_colocation" -> ((s, dir) => {
      // spatio-temporal co-location join: pairs of fixes from DIFFERENT
      // users within 10 km (chord^2 metric) and 30 min, over the
      // q_trajectory drift streams (users congruent mod 60 share a base
      // position; within 30 min the drift keeps true pairs <= ~5.2 km,
      // and distinct classes sit >= ~110 km apart — both sides of the
      // radius have >20x margin, so float paths cannot flip a pair).
      // The oracle replays the time + chord predicates over a quadratic
      // join on the event_id%4 subset; the engine's (bucket, cell)
      // candidate fan must be invisible to the result.
      val pts = eventPoints(s, dir, every4 = true, "event_id", "user_id", "ts")
      GeoEngine.colocationJoinChord(pts, "event_id", "user_id",
          GeoEngine.maxChord2For(10000.0), tauSeconds = 1800L)
        .select(col("a_id"), col("b_id"),
          col("a_ent").cast("long").as("a_ent"),
          col("b_ent").cast("long").as("b_ent"),
          col("dt_us"),
          floor(col("cd") * 1e12 + 0.5).cast("long").as("cd_e12"))
    }),
    "q_ann_stat" -> ((s, dir) => {
      // Clark-Evans average-nearest-neighbor statistic (chord twin) over
      // the q_knox drifting points, 500 km search bound.  Per-point NN
      // arc distances quantized to exact um longs; the oracle replays
      // the quadratic min per point and the closed-form R / z from the
      // identical integers.
      val pts = eventPoints(s, dir, every4 = true, "event_id")
      graft.geo.engine.SpatialStats.annStatChord(pts, RipleyAreaM2,
          GeoEngine.maxChord2For(500000.0), idCol = "event_id")
        .select(col("n_points"), col("sum_nnd_um"),
          floor(col("obs_mean") * 1e6 + 0.5).cast("long").as("obs_e6"),
          floor(col("exp_mean") * 1e6 + 0.5).cast("long").as("exp_e6"),
          floor(col("r_ratio") * 1e9 + 0.5).cast("long").as("r_e9"),
          floor(col("z") * 1e6 + 0.5).cast("long").as("z_e6"))
    }),
    "q_knox" -> ((s, dir) => {
      // Knox space-time interaction test over the q_colocation point
      // model (10 km chord cut, 30 min window, event_id%4 subset): one
      // row of exact pair counts (space-close, time-close, both) plus
      // the permutation expectation and Poisson z.  The oracle
      // recomputes all three counts from a quadratic cross join and the
      // same closed-form doubles — the engine's three one-shuffle pair
      // streams must be invisible.
      val pts = eventPoints(s, dir, every4 = true, "event_id", "ts")
      graft.geo.engine.SpatialStats.knoxChord(pts,
          GeoEngine.maxChord2For(10000.0), tauSeconds = 1800L,
          idCol = "event_id")
        .select(col("n_points"), col("n_space"), col("n_time"),
          col("n_spacetime"),
          floor(col("e_x") * 1e6 + 0.5).cast("long").as("e_e6"),
          floor(col("z") * 1e6 + 0.5).cast("long").as("z_e6"))
    }),
    "q_simplify" -> ((s, dir) => {
      // Douglas-Peucker trajectory simplification at 20 km over the
      // q_trajectory drift streams (rows-only: the recursive farthest-
      // point split is not SQL-expressible; exact equality against a
      // reference DP and the tolerance property are pinned in
      // MovementOpsSpec).  The near-linear daily drift collapses to its
      // endpoints; midnight wraps and gap boundaries survive.
      val pts = eventPoints(s, dir, every4 = false, "event_id", "user_id", "ts")
      GeoEngine.simplifyTrajectories(pts, Seq("user_id"),
          toleranceMeters = 20000.0)
        .select(col("user_id"), col("t_us"),
          floor(col("lon") * 1e7 + 0.5).cast("long").as("lon_e7"),
          floor(col("lat") * 1e7 + 0.5).cast("long").as("lat_e7"))
    }),
    "q_sessionize" -> ((s, dir) => {
      // gaps-and-islands sessionization (30-minute inactivity gap) +
      // per-session rollup.  One keyed shuffle end-to-end: the window
      // partitioning on user_id satisfies the groupBy's clustering.
      // Total order (ts, event_id) pins session numbering so the
      // cumulative-sum assignment is engine-independent; DuckDB replays
      // the identical lag + running-sum chain.
      val ev = s.read.parquet(s"$dir/events.parquet")
        .select("event_id", "user_id", "ts", "value")
      graft.data.Sessions.sessionize(ev, Seq("user_id"),
          gap = "30 minutes", tiebreak = "event_id", dropNullTimes = true)
        .groupBy(col("user_id"), col("session_seq"))
        .agg(count(lit(1)).as("n_events"),
          round(sum(col("value")) * 1000).cast("long").as("sum_value_milli"),
          unix_micros(min(col("ts")).cast("timestamp")).as("first_us"),
          unix_micros(max(col("ts")).cast("timestamp")).as("last_us"))
    }),
    "q_interval_join" -> ((s, dir) => {
      // interval (SCD-2 validity-window) join: look up which synthetic
      // per-customer "version window" each order's date falls in.  The
      // windows are built arithmetically from the customer table (epoch
      // MICROSECOND longs, so both engines use exact integer arithmetic);
      // widths vary per customer (90..119 days), and the 24-window ladder
      // deliberately ends before the last order dates so the miss path
      // (null version) is exercised.  Engine shape: as-of on the start +
      // end post-check — one keyed shuffle, no interval explosion; the
      // oracle is the plain range LEFT JOIN, exact because windows of one
      // key never overlap.
      val iv = s.read.parquet(s"$dir/customer.parquet")
        .select(col("c_custkey").as("custkey"),
          explode(sequence(lit(0L), lit(23L))).as("version"))
        .withColumn("step_us",
          (lit(90L) + pmod(col("custkey"), lit(30L))) * lit(86400000000L))
        .withColumn("vstart", lit(757382400000000L) + col("version") * col("step_us"))
        .withColumn("vend", col("vstart") + col("step_us"))
        .drop("step_us")
      val ord = s.read.parquet(s"$dir/orders.parquet")
        .select(col("o_orderkey"), col("o_custkey").as("custkey"),
          unix_micros(col("o_orderdate").cast("timestamp")).as("t_us"))
      graft.data.AsOf.intervalJoin(ord, iv, Seq("custkey"), "t_us",
          startCol = "vstart", endCol = "vend", tiebreak = "version")
        .select(col("o_orderkey"), col("custkey"),
          col("r_version").as("version"), col("r_vstart").as("vstart_us"))
    }),
    "q_asof_join" -> ((s, dir) => {
      // as-of join: attribute each click to the latest view by the same
      // user within 30 minutes (trajectory/attribution enrichment).
      // Engine shape: union + ONE keyed shuffle + running last() window —
      // no join operator, no per-left-row range explosion.  DuckDB
      // replays it as LEFT JOIN + QUALIFY row_number()=1 with the same
      // time/tiebreak order, so the hash compare pins both the match
      // choice and the tie rule.
      val ev = s.read.parquet(s"$dir/events.parquet")
      val clicks = ev.where(col("event_type") === "click")
        .select("event_id", "user_id", "ts", "value")
      val views = ev.where(col("event_type") === "view")
        .select("event_id", "user_id", "ts", "value")
      graft.data.AsOf.asofJoin(clicks, views, Seq("user_id"),
          tolerance = "30 minutes", tiebreak = "event_id")
        .select(col("event_id").as("click_id"), col("user_id"),
          col("r_event_id").as("view_id"),
          // parquet timestamps read as NTZ; session TZ is UTC in both
          // engines, so the cast to instant is exact
          (unix_micros(col("ts").cast("timestamp")) -
            unix_micros(col("r_ts").cast("timestamp"))).as("lag_us"),
          floor(col("r_value") * 1000 + 0.5).cast("long")
            .as("view_value_milli"))
    }),
    // --- multimodal (real lib-free decode: netpbm P5/P6 + WAV PCM) -------
    "q_media_neardup" -> ((s, dir) => {
      // perceptual image near-dup: plant a +1-pixel copy of every
      // synthetic image and pair originals with copies by average-hash
      // hamming LSH (rows-only: codec + LSH not SQL-expressible; exact
      // planted-pair recall and precision asserted in DataOpsSpec).
      val media = Multimodal.synthesize(s, 2000, parts = 8)
      import media.sparkSession.implicits._
      val perturbed = media
        .filter((m: Multimodal.MediaRow) => m.meta.kind == "image")
        .map { m =>
          val c = m.content.clone()
          c(c.length - 1) = (c(c.length - 1) + 1).toByte
          Multimodal.MediaRow("p" + m.media_id, c, m.meta)
        }
      val feats = Multimodal.extractFeatures(media.union(perturbed)).toDF()
      Multimodal.nearDupPairs(feats)
        .agg(count(lit(1)).as("n_pairs"), sum(col("hamming")).as("sum_hamming"))
    }),
    "q_media_features" -> ((s, dir) => {
      val media = Multimodal.synthesize(s, 2000, parts = 8)
      Multimodal.extractFeatures(media).toDF()
        .select(col("media_id"), col("kind"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          col("sampleRate").cast("long").as("sample_rate"),
          col("durationMs").as("duration_ms"), col("nBytes").as("n_bytes"),
          col("ahash"))
    }),
    "q_media_jdk" -> ((s, dir) => {
      // JDK platform-codec path (javax.imageio): every deterministic test
      // card rides twice — lossless PNG and lossy JPEG — through executor-
      // side encode + decode; the lossy twin must stay within 8 ahash bits
      // of the lossless one (rows-only: codec output is not SQL-
      // expressible; bit-level parity asserted in JdkCodecSpec).
      val feats = Multimodal.extractFeatures(
        Multimodal.synthesizeJdk(s, 300, parts = 8)).toDF()
      val png = feats.where(col("kind") === "png")
        .select(expr("substring(media_id, 4)").as("card"),
          col("ahash").as("png_ahash"),
          col("width").cast("long").as("w"), col("height").cast("long").as("h"))
      val jpg = feats.where(col("kind") === "jpeg")
        .select(expr("substring(media_id, 4)").as("card"),
          col("ahash").as("jpg_ahash"))
      png.join(jpg, "card")
        .agg(count(lit(1)).as("n_cards"),
          sum(when(bit_count(col("png_ahash").bitwiseXOR(col("jpg_ahash")))
            <= lit(8), 1L).otherwise(0L)).as("n_perceptual_match"),
          sum(col("w") * col("h")).as("sum_pixels"))
    }),
    "q_media_probe" -> ((s, dir) => {
      // the codec-less container probes (WebP/MP4/AVIF/FLAC) through the
      // executor decode path: synthesize one deterministic container per
      // (id, format) on the executors, extract features, aggregate per
      // kind.  Rows-only (binary synthesis is not SQL-expressible); the
      // byte layouts are pinned against the specs in JdkCodecSpec.
      import s.implicits._
      val feats = Multimodal.extractFeatures(
        s.range(0, 400, 1, 8).map { id =>
          val kind = (id % 4).toInt
          val w = 16 + (id % 64).toInt
          val h = 16 + (id % 48).toInt
          val bytes = kind match {
            case 0 => MediaProbes.synthWebpVp8x(w, h)
            case 1 => MediaProbes.synthMp4(w, h, 1000 + id % 9000)
            case 2 => MediaProbes.synthAvif(w, h)
            case _ => MediaProbes.synthFlac(8000 + (id % 5).toInt * 8000,
              1 + (id % 2).toInt, 4000 + id % 80000)
          }
          Multimodal.MediaRow(f"probe$id%05d", bytes,
            Multimodal.MediaMeta(if (kind == 3) "audio" else "image", w, h, 0))
        }).toDF()
      feats.groupBy("kind").agg(
        count(lit(1)).as("n"),
        sum(when(col("width") > 0 || col("sampleRate") > 0, 1L)
          .otherwise(0L)).as("n_typed"),
        sum(col("nBytes")).as("sum_bytes"))
    }),
    "q_corpus_pipeline" -> ((s, dir) => {
      // the full corpus build (url dedup -> exact dedup -> minhash+CC
      // near-dedup -> quality gate -> decontaminate -> split -> pack)
      // over documents with planted urls; emits one row per stage with
      // the surviving doc count plus the packed train-sequence count.
      // Rows-only: LSH banding is not SQL-expressible; exact per-stage
      // victims are pinned on a planted corpus in CorpusPipelineSpec.
      // The repetition gates are disabled because the synthetic corpus
      // text draws from a ~25-word vocabulary (every real doc would trip
      // a dup-word cap tuned for natural text).
      import graft.data.CorpusPipeline
      val docs = s.read.parquet(s"$dir/documents.parquet")
        .withColumn("url", plantedUrl(col("doc_id")))
      val eval = docs.where(pmod(col("doc_id"), lit(251)) === 0)
        .select(col("doc_id").as("eval_id"), col("text"))
      val r = CorpusPipeline.build(docs, CorpusPipeline.Config(
        evalSet = Some(eval),
        maxDupWordFrac = 1.0, maxTopBigramFrac = 1.0))
      val sp = s; import sp.implicits._
      (CorpusPipeline.measure(r) :+ ("packed" -> r.packed.count()))
        .toDF("stage", "n_docs")
    }),
    "q_crs_catalog" -> ((s, _) => {
      // registry introspection as data (the proj_get_crs_info_list
      // analogue, reference c_api.cpp): the full CRS catalog aggregated
      // per (authority, type) — counts, deprecation, extent coverage and
      // a numeric-code sum.  The oracle pins the catalog content as
      // literal VALUES: the registry is a fixed input of the build (the
      // reference's data/sql), not derived from the sf tables, so the
      // frozen expectation IS the regression check.
      val sp = s; import sp.implicits._
      graft.geo.proj.AuthorityDb.crsInfoList().toDF()
        .groupBy(col("auth"), col("kind")).agg(
          count(lit(1)).as("n"),
          sum(when(col("deprecated"), 1L).otherwise(0L)).as("n_deprecated"),
          sum(when(col("west").isNotNull, 1L).otherwise(0L)).as("n_bbox"),
          sum(when(col("code").rlike("^[0-9]{1,9}$"), col("code").cast("long"))
            .otherwise(0L)).as("code_sum"))
    }),
    "q_vert_offset" -> ((s, dir) => {
      // Grid-free vertical operations from the registry's 9616/1046
      // offset records (the reference factory's vertical branch,
      // coordinateoperationfactory.cpp:563-664), all through the
      // crsToCrs front door on standalone vertical CRS codes:
      //  z_auckland: NZVD2009 -> Auckland 1946 (EPSG:4442, direct 9616)
      //  z_hop:      One Tree Point 1964 -> Auckland 1946 (2-hop BFS
      //              through the NZVD2009 hub: -0.06 then +0.34)
      //  z_ftus:     NAVD88 (m) -> NAVD88 (ftUS): same datum, axis glue
      //  z_evrf:     ODN -> EVRF2000 (EPSG:4651, Vertical Offset AND
      //              SLOPE: evaluation-point plane; slope_lon = 0)
      import graft.geo.proj.OperationFactory
      val k1 = OperationFactory.crsToCrs("EPSG:4440", "EPSG:5759")
      val k2 = OperationFactory.crsToCrs("EPSG:5767", "EPSG:5759")
      val k3 = OperationFactory.crsToCrs("EPSG:5703", "EPSG:6360")
      val k4 = OperationFactory.crsToCrs("EPSG:5701", "EPSG:5730")
      // UK lattice (the ODN plane is evaluated at real lat/lon)
      val li = s.read.parquet(s"$dir/lineitem.parquet")
        .withColumn("lon",
          lit(-1.05) - (col("l_partkey") * 7 + col("l_suppkey")) % 2900 / lit(1000.0))
        .withColumn("lat",
          lit(51.05) + (col("l_orderkey") * 11 + col("l_linenumber")) % 2900 / lit(1000.0))
        .withColumn("z",
          (col("l_linenumber") * 3).cast("double") + col("l_orderkey") % 97 / lit(100.0))
      def zOf(k: graft.geo.kernels.PointKernel) =
        geo.transform(k, forward = true, outDims = 3,
          col("lon"), col("lat"), col("z")).getField("z")
      li.select(col("l_orderkey"), col("l_linenumber"),
        floor(zOf(k1) * 1e7 + 0.5).cast("long").as("z_auckland_e7"),
        floor(zOf(k2) * 1e7 + 0.5).cast("long").as("z_hop_e7"),
        floor(zOf(k3) * 1e7 + 0.5).cast("long").as("z_ftus_e7"),
        floor(zOf(k4) * 1e7 + 0.5).cast("long").as("z_evrf_e7"))
    })
  )

  /** PIP polygons: convex rings with non-round vertices so the SQL mirror
    * (half-plane tests) agrees with the even-odd expression everywhere
    * except measure-zero boundaries. */
  private val pipPolys = Seq(
    GeoEngine.Polygon("tri_a",
      Array(-60.123, -20.456, 45.789, -35.123, 10.567, 40.891)),
    GeoEngine.Polygon("quad_b",
      Array(100.234, -10.345, 170.456, -5.678, 160.789, 44.012, 110.111, 38.901)))

  /** raster tiles from part-derived points at level 2; value derived from
    * the decoded tile key so SQL can recompute it. */
  private def rasterFromPart(s: SparkSession, dir: String): DataFrame = {
    val pts = s.read.parquet(s"$dir/part.parquet")
      .select(
        (pmod(col("p_partkey") * lit(11.234567), lit(359.9)) - lit(179.95)).as("lon"),
        (pmod(col("p_partkey") * lit(7.654321), lit(169.9)) - lit(84.95)).as("lat"))
    GeoEngine.tiled(pts, 2).select("cell").distinct()
      .withColumn("d", geo.cellDecode(col("cell")))
      .withColumn("value",
        ((col("d").getField("face").cast("long") * 16 +
          col("d").getField("i") * 4 + col("d").getField("j")) % 97).cast("double"))
      .drop("d")
  }

  /** half-plane convex PIP test in SQL for a polygon with vertices vs:
    * inside = all edge cross-products have the same sign as the polygon
    * orientation (matches the even-odd test for convex rings off the
    * boundary). */
  private def convexPipSql(ring: Array[Double], lonCol: String,
                           latCol: String): String = {
    val n = ring.length / 2
    // orientation via the shoelace sum
    var area2 = 0.0
    for (i <- 0 until n) {
      val j = (i + 1) % n
      area2 += ring(2 * i) * ring(2 * j + 1) - ring(2 * j) * ring(2 * i + 1)
    }
    val sign = if (area2 >= 0) ">" else "<"
    (0 until n).map { i =>
      val j = (i + 1) % n
      val (x1, y1) = (ring(2 * i), ring(2 * i + 1))
      val (x2, y2) = (ring(2 * j), ring(2 * j + 1))
      s"((($x2) - ($x1)) * ($latCol - ($y1)) - (($y2) - ($y1)) * ($lonCol - ($x1)) $sign 0)"
    }.mkString("(", " AND ", ")")
  }

  /** Shared CTE chain for the URL-op oracles: the q_url_* plant plus a
    * step-for-step SQL replay of UrlOps.normalizeUrl / urlHost /
    * registeredDomain (same regexes, same order — the Java/RE2-common
    * subset, so both engines execute them identically). */
  private val urlCtes =
    """WITH planted AS (
      |  SELECT doc_id,
      |    CASE CAST(doc_id % 4 AS INT)
      |      WHEN 0 THEN 'HTTPS://WWW.Example.COM:443/a//b/?utm_source=x&id='
      |        || doc_id || '#sec'
      |      WHEN 1 THEN 'http://user@News.example.CO.UK:80/path/'
      |        || doc_id || '/'
      |      WHEN 2 THEN 'example.org/q?ref=tw&x=' || doc_id
      |      ELSE 'https://Mirror.example.com/dup/' || (doc_id % 97)
      |    END AS url
      |  FROM documents
      |), s1 AS (
      |  SELECT doc_id,
      |    regexp_replace(regexp_replace(url, '#.*$', ''), '\s+', '', 'g')
      |      AS nofrag
      |  FROM planted
      |), s2 AS (
      |  SELECT doc_id,
      |    regexp_extract(nofrag, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)
      |      AS scheme_raw,
      |    regexp_replace(nofrag, '^[A-Za-z][A-Za-z0-9+.-]*://', '') AS rest
      |  FROM s1
      |), s3 AS (
      |  SELECT doc_id,
      |    CASE WHEN scheme_raw = '' THEN 'http'
      |      ELSE lower(scheme_raw) END AS scheme,
      |    regexp_replace(lower(regexp_extract(rest, '^([^/?]+)', 1)),
      |      '^.*@', '') AS nouser,
      |    regexp_replace(rest, '^[^/?]+', '') AS pathq
      |  FROM s2
      |), s4 AS (
      |  SELECT doc_id, scheme,
      |    regexp_replace(
      |      CASE WHEN scheme = 'http' THEN regexp_replace(nouser, '(:80)+$', '')
      |           WHEN scheme = 'https' THEN regexp_replace(nouser, '(:443)+$', '')
      |           ELSE nouser END, '^(www[.])+', '') AS nhost,
      |    regexp_replace(regexp_replace(nouser, '(:[0-9]+)+$', ''),
      |      '^(www[.])+', '') AS uhost,
      |    regexp_replace(regexp_replace(regexp_extract(pathq, '^([^?]*)', 1),
      |      '/{2,}', '/', 'g'), '/+$', '') AS path,
      |    regexp_replace(regexp_replace(regexp_extract(pathq, '[?].*'),
      |      '[?&](utm_[A-Za-z0-9]+|fbclid|gclid|msclkid|ref)=[^&]*', '', 'g'),
      |      '^&', '?') AS query
      |  FROM s3
      |), normed AS (
      |  SELECT doc_id,
      |    scheme || '://' || nhost || path || query AS url_norm,
      |    uhost AS host,
      |    CASE WHEN regexp_matches(uhost, '^[0-9.]+$') OR uhost LIKE '[%'
      |        THEN uhost
      |      WHEN rd = '' THEN uhost ELSE rd END AS domain
      |  FROM (
      |    SELECT *, regexp_extract(uhost,
      |      '([^.]+[.](?:co[.]uk|org[.]uk|ac[.]uk|gov[.]uk|co[.]jp|com[.]au|com[.]br|co[.]in|co[.]nz|com[.]mx)|[^.]+[.][^.]+)$',
      |      1) AS rd
      |    FROM s4)
      |)""".stripMargin

  /** q_vert_offset replay constants, computed with the SAME JVM ops as
    * the engine path so the SQL replay is bit-identical:
    *  - ftUsInv: z-unit glue factor 1/ftUS as UnitConvertKernel derives
    *    it (fz = 1.0 then fz /= toMeter);
    *  - evrfC1/evrfLat0: the EPSG:4651 slope plane — lat_0 decodes from
    *    sexagesimal 9110 text, slope_lat (arcsec) and the WGS84 rho0
    *    exactly as VertOffsetKernel computes them. */
  private lazy val vertOracleConsts: (Double, Double, Double) = {
    val ftUsInv = 1.0 / "3.04800609601219241e-01".toDouble
    val ell = graft.geo.math.Ellipsoid.WGS84
    val lat0 = math.toRadians(
      graft.geo.proj.AuthorityDb.sexagesimalDeg("54.35"))
    val sin0 = math.sin(lat0)
    val oneMinus = 1.0 - ell.es * sin0 * sin0
    val rho0 = ell.a * ell.oneEs / (oneMinus * math.sqrt(oneMinus))
    val c1 = (0.044 * graft.geo.math.ProjMath.ArcSecToRad) * rho0
    (ftUsInv, c1, lat0)
  }

  /** NKG velocity extract read through the engine's own GeoTIFF loader
    * (same-JVM bit parity, the vertOracleConsts stance): node values,
    * lattice header and ellipsoid constants for the q_point_motion
    * oracle's SQL replay of the deformation arithmetic. */
  private lazy val pmVelOracle: (Int, Int, Double, Double, Double, Double,
      Array[Array[Float]], Int, Int, Int, Double, Double) = {
    val k = graft.geo.proj.ProjString.parse(
      "+proj=deformation +dt=12.5" +
        " +grids=tests/nkgrf03vel_realigned_extract.tif +ellps=GRS80")
      .asInstanceOf[graft.geo.grids.DeformationKernel]
    val g = k.genGrids.head.head
    (g.width, g.height, g.extent.west, g.extent.south,
      g.extent.resX, g.extent.resY, g.channels, g.channelOf("east_velocity", 0),
      g.channelOf("north_velocity", 1), g.channelOf("up_velocity", 2),
      k.ell.a, k.ell.es)
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted keys get the weaker rows-only check.
    * Each entry is built on its own, so one whose builder needs an absent
    * asset file costs that query's compare alone: it is left out and
    * named on stderr.  Any other builder error (a code regression, an
    * unsupported operation, a corrupt file) propagates. */
  def oracleSql: Map[String, String] = oracleBuilds.flatMap {
    case (name, Right(sql)) => Some(name -> sql)
    case (_, Left(e)) =>
      System.err.println(s"[oracle] builder failed, entry omitted: ${e.detail}")
      None
  }

  /** The oracles [[oracleSql]] leaves out: name -> the absent asset file
    * its builder named. */
  def oracleOmitted: Map[String, graft.geo.proj.ProjString.AssetMissing] =
    oracleBuilds.collect { case (name, Left(e)) => name -> e }

  private def oracleBuilds =
    oracleBuilders.map { case (name, build) =>
      name -> (try Right(build())
        catch { case e: graft.geo.proj.ProjString.AssetMissing => Left(e) })
    }

  /** `"q_x" ~> sql` pairs an oracle with its SQL, built when called. */
  private implicit final class OracleName(private val name: String) extends AnyVal {
    def ~>(sql: => String): (String, () => String) = (name, () => sql)
  }

  private def oracleBuilders: Map[String, () => String] = Map(
    "q_url_normalize" ~>
      (urlCtes + "\nSELECT doc_id, url_norm, host, domain FROM normed"),
    "q_url_dedup" ~>
      (urlCtes + """
        |SELECT min(doc_id) AS keep_id, count(*) AS n_dups
        |FROM normed GROUP BY url_norm""".stripMargin),
    "q_domain_mix" ~>
      (urlCtes + """,
        |per AS (
        |  SELECT domain, count(*) AS n_docs, count(DISTINCT host) AS n_hosts
        |  FROM normed GROUP BY domain
        |)
        |SELECT domain, n_docs, n_hosts,
        |  CAST(FLOOR(CAST(n_docs * 1000000 AS DOUBLE) /
        |    CAST((SELECT sum(n_docs) FROM per) AS DOUBLE)) AS BIGINT)
        |    AS share_ppm
        |FROM per""".stripMargin),
    "q_webmerc_fwd" ~>
      webmercDmSql,
    // Mars equirectangular is closed-form on the registry's sphere
    "q_mars_eqc" ~>
      s"""SELECT l_orderkey, l_linenumber,
         |  CAST(round(3396190.0 * radians($lonSql) * 10) AS BIGINT) AS x_dm,
         |  CAST(round(3396190.0 * radians($latSql) * 10) AS BIGINT) AS y_dm
         |FROM lineitem""".stripMargin,
    // full SQL replay of EPSG:1612 (ED50→WGS84 7-param position-vector
    // Helmert) over cart(intl): geodetic→geocentric forward plus the
    // small-angle position-vector matrix, with the PUBLISHED registry
    // values hard-coded — the Spark side derives the same constants from
    // the parsed authority database
    "q_db_helmert" ~>
      s"""WITH pts AS (
         |  SELECT l_orderkey, l_linenumber,
         |    radians($lonSql) AS lam, radians($latSql) AS phi
         |  FROM lineitem
         |), cart AS (
         |  SELECT l_orderkey, l_linenumber,
         |    (6378388.0 / sqrt(1.0 - (1.0/297.0)*(2.0 - 1.0/297.0)
         |       * sin(phi)*sin(phi))) * cos(phi) * cos(lam) AS x,
         |    (6378388.0 / sqrt(1.0 - (1.0/297.0)*(2.0 - 1.0/297.0)
         |       * sin(phi)*sin(phi))) * cos(phi) * sin(lam) AS y,
         |    (6378388.0 / sqrt(1.0 - (1.0/297.0)*(2.0 - 1.0/297.0)
         |       * sin(phi)*sin(phi))) * (1.0 - (1.0/297.0)*(2.0 - 1.0/297.0))
         |       * sin(phi) AS z
         |  FROM pts
         |)
         |SELECT l_orderkey, l_linenumber,
         |  CAST(round(((1.0 - 3.52e-6) * (x - radians(-0.917/3600.0)*y
         |    + radians(0.921/3600.0)*z) + (-116.641)) * 100) AS BIGINT) AS x_cm,
         |  CAST(round(((1.0 - 3.52e-6) * (radians(-0.917/3600.0)*x + y
         |    - radians(0.893/3600.0)*z) + (-56.931)) * 100) AS BIGINT) AS y_cm,
         |  CAST(round(((1.0 - 3.52e-6) * (-radians(0.921/3600.0)*x
         |    + radians(0.893/3600.0)*y + z) + (-110.559)) * 100) AS BIGINT) AS z_cm
         |FROM cart""".stripMargin,
    // full SQL replay of the epoch-aware point-motion composition:
    // cart(GRS80) forward, bilinear east/north/up velocities from the NKG
    // extract's 25 nodes (inlined through the engine's own loader —
    // same-JVM bit parity), the ENU->XYZ rotation at the point, and the
    // 12.5-year shift, all in the engine's own operation order.  The grid
    // lookup uses the original lam/phi where the engine round-trips
    // through cart-inverse — a ~1e-14 m difference, far inside cm rounding.
    "q_point_motion" ~> {
      val (w, h, west, south, resX, resY, samples, sE, sN, sU, a, es) =
        pmVelOracle
      def nodeRows: String = (for (iy <- 0 until h; ix <- 0 until w) yield
        s"($ix,$iy,${samples(sE)(iy * w + ix).toDouble}," +
          s"${samples(sN)(iy * w + ix).toDouble}," +
          s"${samples(sU)(iy * w + ix).toDouble})").mkString(",\n|    ")
      def bil(c: String): String =
        s"((1.0-fl)*(1.0-fp)*n00.$c + fl*(1.0-fp)*n10.$c" +
          s" + (1.0-fl)*fp*n01.$c + fl*fp*n11.$c) * ${1.0 / 1000.0}"
      s"""WITH pts AS (
         |  SELECT l_orderkey, l_linenumber,
         |    radians(21.17 + (l_partkey * 7 + l_suppkey) % 460 / 1000.0) AS lam,
         |    radians(62.87 + (l_orderkey * 11 + l_linenumber) % 150 / 1000.0) AS phi
         |  FROM lineitem
         |), nodes(ix, iy, ve, vn, vu) AS (VALUES
         |    $nodeRows
         |), cell AS (
         |  SELECT l_orderkey, l_linenumber, lam, phi,
         |    CAST(floor((lam - $west) / $resX) AS INTEGER) AS ix,
         |    CAST(floor((phi - $south) / $resY) AS INTEGER) AS iy,
         |    (lam - $west) / $resX - floor((lam - $west) / $resX) AS fl,
         |    (phi - $south) / $resY - floor((phi - $south) / $resY) AS fp
         |  FROM pts
         |), vel AS (
         |  SELECT c.l_orderkey, c.l_linenumber, c.lam, c.phi,
         |    ${bil("ve")} AS ve, ${bil("vn")} AS vn, ${bil("vu")} AS vu
         |  FROM cell c
         |  JOIN nodes n00 ON n00.ix = c.ix AND n00.iy = c.iy
         |  JOIN nodes n10 ON n10.ix = least(c.ix + 1, ${w - 1}) AND n10.iy = c.iy
         |  JOIN nodes n01 ON n01.ix = c.ix AND n01.iy = least(c.iy + 1, ${h - 1})
         |  JOIN nodes n11 ON n11.ix = least(c.ix + 1, ${w - 1})
         |                AND n11.iy = least(c.iy + 1, ${h - 1})
         |), cart AS (
         |  SELECT l_orderkey, l_linenumber,
         |    sin(phi) AS sp, cos(phi) AS cp, sin(lam) AS sl, cos(lam) AS cl,
         |    ($a / sqrt(1.0 - $es * sin(phi) * sin(phi))) AS nrc,
         |    ve, vn, vu
         |  FROM vel
         |)
         |SELECT l_orderkey, l_linenumber,
         |  CAST(round((nrc * cp * cl + 12.5 * (-sp*cl*vn - sl*ve + cp*cl*vu)) * 100)
         |    AS BIGINT) AS x_cm,
         |  CAST(round((nrc * cp * sl + 12.5 * (-sp*sl*vn + cl*ve + cp*sl*vu)) * 100)
         |    AS BIGINT) AS y_cm,
         |  CAST(round((nrc * (1.0 - $es) * sp + 12.5 * (cp*vn + sp*vu)) * 100)
         |    AS BIGINT) AS z_cm
         |FROM cart""".stripMargin
    },
    // identical oracle to q_webmerc_fwd — the NAME-resolved plan
    // ("WGS 84 / Pseudo-Mercator") must hash-equal the kernel-object plan
    "q_crs_name" ~>
      webmercDmSql,
    // identical oracle to q_webmerc_fwd — the authority-database-resolved
    // EPSG:3857 plan must hash-equal the kernel-object plan
    "q_authority_webmerc" ~>
      webmercDmSql,
    // identical oracle to q_webmerc_fwd — the point is that the
    // WKT-parsed plan hash-equals the kernel-object plan
    "q_wkt_webmerc" ~>
      webmercDmSql,
    // identical oracle again — the ESRI-WKT1-parsed plan must hash-equal
    // the kernel-object and WKT2-parsed plans
    "q_esri_webmerc" ~>
      webmercDmSql,
    // identical oracle again — the PROJJSON-parsed plan must hash-equal
    // the kernel-object and WKT-parsed plans
    "q_projjson_path" ~>
      webmercDmSql,
    // CRS identification: the matched EPSG code is recomputed
    // ARITHMETICALLY (WGS84 UTM north = 32600+zone) and the per-zone
    // counts from the same parquet geo derivation — independent of the
    // identification path under test
    "q_crs_identify" ~>
      s"""SELECT zone, 'epsg:' || CAST(32600 + zone AS VARCHAR) AS code,
         |  CAST(70 AS INTEGER) AS confidence, COUNT(*) AS n_pts
         |FROM (SELECT CAST(FLOOR(($lonSql + 180.0) / 6.0) + 1 AS INTEGER) AS zone
         |      FROM lineitem)
         |GROUP BY zone""".stripMargin,
    // identical oracle once more — the SQL-text path (registered
    // functions) must hash-equal the Column-DSL plans
    "q_sql_surface" ~>
      webmercDmSql,
    "q_mill_fwd" ~>
      s"""SELECT l_orderkey, l_linenumber,
         |  CAST(round(6400000.0 * radians($lonSql) * 10) AS BIGINT) AS x_dm,
         |  CAST(round(6400000.0 * 1.25 * ln(tan(pi()/4 +
         |    0.4 * radians($latSql))) * 10) AS BIGINT) AS y_dm
         |FROM lineitem""".stripMargin,
    "q_gall_fwd" ~>
      s"""SELECT l_orderkey, l_linenumber,
         |  CAST(round(6400000.0 * 0.70710678118654752440 *
         |    radians($lonSql) * 10) AS BIGINT) AS x_dm,
         |  CAST(round(6400000.0 * 1.70710678118654752440 *
         |    tan(0.5 * radians($latSql)) * 10) AS BIGINT) AS y_dm
         |FROM lineitem""".stripMargin,
    "q_merc_roundtrip" ~>
      "SELECT CAST(count(*) AS BIGINT) AS n_rows, CAST(0 AS BIGINT) AS n_bad FROM lineitem",
    "q_utm_pipeline" ~>
      s"""SELECT CAST(count(*) AS BIGINT) AS n_rows, CAST(0 AS BIGINT) AS n_bad
         |FROM lineitem
         |WHERE $lonSql BETWEEN 0.0 AND 6.0 AND $latSql BETWEEN 0.0 AND 80.0""".stripMargin,
    "q_span_extract" ~>
      s"""SELECT l_orderkey, l_linenumber,
         |  CAST(round($latSql * 1e6) AS BIGINT) AS g_lat_u,
         |  CAST(round($lonSql * 1e6) AS BIGINT) AS g_lon_u
         |FROM lineitem""".stripMargin,
    "q_tile_occupancy" ~>
      s"""${tileSql(lonSql, latSql, 4, "lineitem")}
         |SELECT CAST(face AS BIGINT) AS face, CAST(count(*) AS BIGINT) AS n_points
         |FROM tiled GROUP BY face""".stripMargin,
    "q_tile_assign" ~>
      s"""${tileSql(lonSql, latSql, 3, "lineitem")}
         |SELECT CAST(face AS BIGINT) AS face, i, j,
         |  CAST(count(*) AS BIGINT) AS n_points
         |FROM tiled GROUP BY 1, 2, 3""".stripMargin,
    "q_tile_pyramid" ~>
      (1 to 3).map { l =>
        s"""SELECT * FROM (
           |${tileSql(lonSql, latSql, l, "lineitem")}
           |SELECT CAST($l AS BIGINT) AS level, CAST(face AS BIGINT) AS face,
           |  i, j, CAST(count(*) AS BIGINT) AS n_points
           |FROM tiled GROUP BY 2, 3, 4)""".stripMargin
      }.mkString("\nUNION ALL\n"),
    // planar hexbin replay: webmerc metres -> fractional axial coords ->
    // cube rounding with the exact comparison chain of HexIndex.cubeRound*
    // (strict >, fix q first, then r, else s)
    "q_hex_occupancy" ~>
      s"""WITH ${hexSql(lonSql, latSql, "lineitem")}
         |SELECT CAST(hq AS BIGINT) AS hq, CAST(hr AS BIGINT) AS hr,
         |       CAST(count(*) AS BIGINT) AS n_points
         |FROM fixed GROUP BY 1, 2""".stripMargin,
    // Gi* / Moran replay: hexbin chain as in q_hex_occupancy, the ring-1
    // disk as the axial grid-distance predicate on the cell AGGREGATE
    // self-join, then the closed-form statistics from exact longs (the
    // engine keeps counts as the attribute precisely so both engines
    // derive identical IEEE doubles from identical integers).
    "q_gi_star" ~> giStarSql(hexCellsSql(), "n_points"),
    // weighted Gi* replay: q_gi_star with the cell attribute swapped
    // from count(*) to the exact sum of the integer value column.
    "q_gi_star_w" ~> giStarSql(
      hexCellsSql("CAST(sum(v) AS BIGINT) AS x", value = "l_orderkey % 97"), "sum_v"),
    "q_moran" ~>
      s"""${hexCellsSql()}, $hexMomentsSql, ed AS (
         |  SELECT CAST(count(*) AS BIGINT) AS e,
         |         CAST(sum(a.x) AS BIGINT) AS s_xi,
         |         CAST(sum(b.x) AS BIGINT) AS s_xj,
         |         CAST(sum(a.x*b.x) AS BIGINT) AS s_xixj
         |  FROM cells a JOIN cells b
         |    ON $hexRing1Sql
         |   AND NOT (a.hq = b.hq AND a.hr = b.hr)
         |)
         |SELECT g.n AS n_cells, ed.e AS n_edges,
         |  CASE WHEN ed.e > 0
         |        AND CAST(g.sum_x2 AS DOUBLE)
         |            - g.n * (CAST(g.sum_x AS DOUBLE)/g.n)
         |              * (CAST(g.sum_x AS DOUBLE)/g.n) > 0
         |  THEN CAST(floor(
         |    (CAST(g.n AS DOUBLE) / ed.e)
         |    * (CAST(ed.s_xixj AS DOUBLE)
         |       - CAST(g.sum_x AS DOUBLE)/g.n * ed.s_xi
         |       - CAST(g.sum_x AS DOUBLE)/g.n * ed.s_xj
         |       + ed.e * (CAST(g.sum_x AS DOUBLE)/g.n)
         |              * (CAST(g.sum_x AS DOUBLE)/g.n))
         |    / (CAST(g.sum_x2 AS DOUBLE)
         |       - g.n * (CAST(g.sum_x AS DOUBLE)/g.n)
         |         * (CAST(g.sum_x AS DOUBLE)/g.n))
         |    * 1e6 + 0.5) AS BIGINT)
         |  END AS i_e6
         |FROM g CROSS JOIN ed""".stripMargin,
    // IDW replay: hexbin chain carrying the integer value, ring-2 offset
    // fan with the same quantized (size/d)^2 weights, full join for the
    // exact-hit rule — all longs identical, estimate closed-form.
    "q_idw" ~> {
      val r2 = 600000.0 * 600000.0
      val cells = hexCellsSql("CAST(count(*) AS BIGINT) AS x, CAST(sum(v) AS BIGINT) AS sv",
        value = "l_orderkey % 97")
      s"""$cells, ${hexFanSql("c.x, c.sv")}, wtab AS (
         |  SELECT hq, hr, x, sv,
         |    CASE WHEN dx*dx + dy*dy > 0 AND dx*dx + dy*dy <= $r2
         |    THEN CAST(floor((250000.0 / sqrt(dx*dx + dy*dy))
         |                  * (250000.0 / sqrt(dx*dx + dy*dy))
         |                  * 1048576.0 + 0.5) AS BIGINT)
         |    ELSE 0 END AS w
         |  FROM fan
         |), agg AS (
         |  SELECT hq, hr, CAST(sum(sv * w) AS BIGINT) AS wnum,
         |         CAST(sum(x * w) AS BIGINT) AS wden
         |  FROM wtab GROUP BY 1, 2
         |  HAVING sum(x * w) > 0
         |)
         |SELECT COALESCE(a.hq, c.hq) AS hq, COALESCE(a.hr, c.hr) AS hr,
         |  COALESCE(c.x, 0) AS n_points, COALESCE(c.sv, 0) AS sum_v,
         |  COALESCE(a.wnum, 0) AS wnum, COALESCE(a.wden, 0) AS wden,
         |  CAST(floor(CASE WHEN COALESCE(c.x, 0) > 0
         |    THEN CAST(c.sv AS DOUBLE) / CAST(c.x AS DOUBLE)
         |    ELSE CAST(a.wnum AS DOUBLE) / CAST(a.wden AS DOUBLE) END
         |    * 1e9 + 0.5) AS BIGINT) AS est_e9
         |FROM agg a
         |FULL JOIN cells c ON c.hq = a.hq AND c.hr = a.hr""".stripMargin
    },
    // Hausdorff replay: full bipartite chord product per user pair (no
    // prefilter — equality proves the engine's cell-cover candidate set
    // is complete), quantized-arc min per point, coverage rule, max.
    // full SQL replay of the DISCRETE FRECHET dynamic program (Eiter &
    // Mannila): the engine's rolling-row min/max recurrence runs as a
    // recursive CTE over rows i, each iteration rebuilding the DP row as
    // a LIST via list_reduce with a list accumulator (the within-row
    // dependence dp[j] <- dp_new[j-1] is the fold's acc[-1]).  Candidates
    // are ALL pairs — the engine's cell prefilter is a pure superset
    // (F <= tau implies a shared cover cell) and its early-abort implies
    // the same final f > tau rejection, so the outputs coincide exactly.
    // Hash-verified since r5 (was rows-only "not SQL-expressible" — the
    // DP is expressible after all, in ~60 lines of lambdas).
    "q_frechet" ~> {
      val c2 = graft.geo.engine.GeoEngine.maxChord2For(50000.0)
      val twoR = 2.0 * 6378137.0
      val frac = "(epoch_us(ts) - 1704067200000000) / 2592000000000.0"
      s"""WITH RECURSIVE p AS (
         |  SELECT user_id AS uid, epoch_us(ts) AS t_us,
         |    (user_id % 20) * 1.7 - 17.0 + $frac * 0.5 AS lon,
         |    (user_id % 10) * 1.3 - 6.0 + $frac * 0.25 AS lat
         |  FROM events
         |  WHERE ts IS NOT NULL AND user_id IS NOT NULL AND event_id % 4 = 0
         |), v AS (
         |  SELECT uid, t_us, lon, lat,
         |    $xyzSql
         |  FROM p
         |), seqs AS (
         |  SELECT uid,
         |    list(x ORDER BY t_us, x, y, z) AS xs,
         |    list(y ORDER BY t_us, x, y, z) AS ys,
         |    list(z ORDER BY t_us, x, y, z) AS zs
         |  FROM v GROUP BY uid
         |), pairs AS (
         |  SELECT a.uid AS li, b.uid AS rj,
         |    a.xs AS ax, a.ys AS ay, a.zs AS az,
         |    b.xs AS bx, b.ys AS byy, b.zs AS bz,
         |    len(a.xs) AS na, len(b.xs) AS nb
         |  FROM seqs a JOIN seqs b ON a.uid < b.uid
         |), dp AS (
         |  SELECT li, rj, ax, ay, az, bx, byy, bz, na, nb, 1 AS i,
         |    list_reduce(
         |      list_transform(range(1, nb + 1), j ->
         |        list_value((ax[1]-bx[j])*(ax[1]-bx[j]) + (ay[1]-byy[j])*(ay[1]-byy[j])
         |          + (az[1]-bz[j])*(az[1]-bz[j]))),
         |      (acc, vv) -> list_append(acc, greatest(acc[-1], vv[1]))) AS dpr
         |  FROM pairs
         |  UNION ALL
         |  SELECT li, rj, ax, ay, az, bx, byy, bz, na, nb, i + 1,
         |    list_reduce(
         |      list_concat(
         |        list_value(list_value(greatest(dpr[1],
         |             (ax[i+1]-bx[1])*(ax[i+1]-bx[1]) + (ay[i+1]-byy[1])*(ay[i+1]-byy[1])
         |             + (az[i+1]-bz[1])*(az[i+1]-bz[1])))),
         |        list_transform(range(2, nb + 1), j ->
         |          list_value(CAST(j AS DOUBLE),
         |            (ax[i+1]-bx[j])*(ax[i+1]-bx[j]) + (ay[i+1]-byy[j])*(ay[i+1]-byy[j])
         |            + (az[i+1]-bz[j])*(az[i+1]-bz[j])))),
         |      (acc, vv) -> list_append(acc,
         |        greatest(least(least(dpr[CAST(vv[1] AS BIGINT) - 1],
         |                             dpr[CAST(vv[1] AS BIGINT)]), acc[-1]), vv[2])))
         |  FROM dp WHERE i < na
         |)
         |SELECT li AS left_id, rj AS right_id,
         |  CAST(floor($twoR * asin(sqrt(dpr[nb]) / 2.0) * 1e6 + 0.5) AS BIGINT) AS f_um
         |FROM dp WHERE i = na AND dpr[nb] <= $c2""".stripMargin
    },
    "q_hausdorff" ~> {
      val c2 = graft.geo.engine.GeoEngine.maxChord2For(50000.0)
      val twoR = 2.0 * 6378137.0
      s"""WITH p AS (
         |  SELECT DISTINCT user_id AS uid,
         |    (user_id % 20) * 1.7 - 17.0 + $dayFracSql * 0.5 AS lon,
         |    (user_id % 10) * 1.3 - 6.0 + $dayFracSql * 0.25 AS lat
         |  FROM events
         |  WHERE ts IS NOT NULL AND user_id IS NOT NULL
         |    AND event_id % 4 = 0
         |), v AS (
         |  SELECT uid, lon, lat,
         |    $xyzSql
         |  FROM p
         |), np AS (
         |  SELECT uid, CAST(count(*) AS BIGINT) AS n FROM v GROUP BY 1
         |), pr AS (
         |  SELECT a.uid AS li, b.uid AS rj,
         |    a.lon AS alon, a.lat AS alat, b.lon AS blon, b.lat AS blat,
         |    CAST(floor($twoR * asin(sqrt(
         |      $xyzChord2Sql) / 2.0) * 1e6 + 0.5) AS BIGINT) AS um
         |  FROM v a JOIN v b
         |    ON a.uid < b.uid
         |   AND $xyzChord2Sql <= $c2
         |), ma AS (
         |  SELECT li, rj, alon, alat, min(um) AS mn
         |  FROM pr GROUP BY 1, 2, 3, 4
         |), ha AS (
         |  SELECT li, rj, max(mn) AS h_ab, CAST(count(*) AS BIGINT) AS cov_a
         |  FROM ma GROUP BY 1, 2
         |), mb AS (
         |  SELECT li, rj, blon, blat, min(um) AS mn
         |  FROM pr GROUP BY 1, 2, 3, 4
         |), hb AS (
         |  SELECT li, rj, max(mn) AS h_ba, CAST(count(*) AS BIGINT) AS cov_b
         |  FROM mb GROUP BY 1, 2
         |)
         |SELECT ha.li AS left_id, ha.rj AS right_id,
         |  GREATEST(ha.h_ab, hb.h_ba) AS h_um
         |FROM ha
         |JOIN hb ON ha.li = hb.li AND ha.rj = hb.rj
         |JOIN np a ON a.uid = ha.li
         |JOIN np b ON b.uid = ha.rj
         |WHERE ha.cov_a = a.n AND hb.cov_b = b.n""".stripMargin
    },
    // quadrat replay: same hexbin chain, axial bounding-rectangle frame,
    // closed-form VMR / chi2 / z from the identical exact integers (the
    // empty-quadrat contribution enters via ss = sum_x2 - n^2/N).
    "q_quadrat" ~>
      s"""${hexCellsSql()}, g AS (
         |  SELECT CAST(count(*) AS BIGINT) AS occ,
         |         CAST(sum(x) AS BIGINT) AS sum_x,
         |         CAST(sum(x*x) AS BIGINT) AS sum_x2,
         |         min(hq) AS min_q, max(hq) AS max_q,
         |         min(hr) AS min_r, max(hr) AS max_r
         |  FROM cells
         |), f AS (
         |  SELECT occ, sum_x, sum_x2,
         |         (max_q - min_q + 1) * (max_r - min_r + 1) AS nc,
         |         CAST((max_q - min_q + 1) * (max_r - min_r + 1) AS DOUBLE) AS nd,
         |         CAST(sum_x AS DOUBLE) AS sxd,
         |         CAST(sum_x2 AS DOUBLE) AS sx2d
         |  FROM g
         |)
         |SELECT COALESCE(sum_x, 0) AS n_points,
         |  CASE WHEN occ > 0 THEN nc ELSE 0 END AS n_cells,
         |  occ AS n_occupied,
         |  CASE WHEN sum_x > 0 AND nc > 1 THEN CAST(floor(
         |    sxd / nd * 1e9 + 0.5) AS BIGINT) END AS mean_e9,
         |  CASE WHEN sum_x > 0 AND nc > 1 THEN CAST(floor(
         |    (sx2d - sxd * sxd / nd) / (nd - 1.0) / (sxd / nd)
         |    * 1e6 + 0.5) AS BIGINT) END AS vmr_e6,
         |  CASE WHEN sum_x > 0 AND nc > 1 THEN CAST(floor(
         |    (sx2d - sxd * sxd / nd) / (sxd / nd)
         |    * 1e3 + 0.5) AS BIGINT) END AS chi2_e3,
         |  CASE WHEN sum_x > 0 AND nc > 1 THEN CAST(floor(
         |    (sqrt(2.0 * ((sx2d - sxd * sxd / nd) / (sxd / nd)))
         |     - sqrt(2.0 * (nd - 1.0) - 1.0))
         |    * 1e6 + 0.5) AS BIGINT) END AS z_e6
         |FROM f""".stripMargin,
    // General G replay: the q_moran edge frame plus per-cell degrees;
    // HUGEINT mirrors of the decimal moment sums; the Getis-Ord B0..B4
    // variance expansion written in the identical operation order.
    "q_general_g" ~>
      s"""${hexCellsSql()}, g AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n,
         |         CAST(sum(x) AS DOUBLE) AS m1,
         |         CAST(sum(x*x) AS DOUBLE) AS m2,
         |         CAST(sum(CAST(x AS HUGEINT)*x*x) AS DOUBLE) AS m3,
         |         CAST(sum(CAST(x AS HUGEINT)*x*x*x) AS DOUBLE) AS m4
         |  FROM cells
         |), deg AS (
         |  SELECT a.hq, a.hr, CAST(count(*) AS BIGINT) AS dg,
         |         sum(CAST(a.x AS HUGEINT) * b.x) AS sg
         |  FROM cells a JOIN cells b
         |    ON $hexRing1Sql
         |   AND NOT (a.hq = b.hq AND a.hr = b.hr)
         |  GROUP BY 1, 2
         |), ed AS (
         |  SELECT CAST(sum(dg) AS BIGINT) AS w,
         |         CAST(sum(dg*dg) AS DOUBLE) AS sum_deg2,
         |         CAST(sum(sg) AS DOUBLE) AS num_g
         |  FROM deg
         |), s AS (
         |  SELECT g.n, CAST(g.n AS DOUBLE) AS nd, g.m1, g.m2, g.m3, g.m4,
         |         ed.w, CAST(ed.w AS DOUBLE) AS wd,
         |         2.0 * CAST(ed.w AS DOUBLE) AS s1,
         |         4.0 * ed.sum_deg2 AS s2,
         |         ed.num_g, g.m1 * g.m1 - g.m2 AS dp
         |  FROM g CROSS JOIN ed
         |), v AS (
         |  SELECT n, w, num_g, dp, nd, wd, m1, m2, m3, m4,
         |    num_g / dp AS gstat,
         |    wd / (nd * (nd - 1.0)) AS eg,
         |    (((nd * nd - 3.0 * nd + 3.0) * s1 - nd * s2 + 3.0 * wd * wd)
         |       * m2 * m2
         |     + (-((nd * nd - nd) * s1 - 2.0 * nd * s2 + 6.0 * wd * wd)) * m4
         |     + (-(2.0 * nd * s1 - (nd + 3.0) * s2 + 6.0 * wd * wd))
         |       * m1 * m1 * m2
         |     + (4.0 * (nd - 1.0) * s1 - 2.0 * (nd + 1.0) * s2
         |        + 8.0 * wd * wd) * m1 * m3
         |     + (s1 - s2 + wd * wd) * m1 * m1 * m1 * m1)
         |    / (dp * dp * nd * (nd - 1.0) * (nd - 2.0) * (nd - 3.0)) AS eg2
         |  FROM s
         |)
         |SELECT n AS n_cells, COALESCE(w, 0) AS n_edges,
         |  CASE WHEN n > 3 AND w > 0 AND dp > 0
         |        AND eg2 - eg * eg > 0 THEN CAST(floor(
         |    gstat * 1e12 + 0.5) AS BIGINT) END AS g_e12,
         |  CASE WHEN n > 3 AND w > 0 AND dp > 0
         |        AND eg2 - eg * eg > 0 THEN CAST(floor(
         |    eg * 1e12 + 0.5) AS BIGINT) END AS eg_e12,
         |  CASE WHEN n > 3 AND w > 0 AND dp > 0
         |        AND eg2 - eg * eg > 0 THEN CAST(floor(
         |    (gstat - eg) / sqrt(eg2 - eg * eg) * 1e6 + 0.5) AS BIGINT)
         |  END AS z_e6
         |FROM v""".stripMargin,
    // Geary's C replay: same hexbin + ordered ring-1 edge chain as
    // q_moran, with the exact-long squared-difference edge sum and the
    // closed-form (n-1)*s_d2 / (2*e*den) from the identical integers.
    "q_geary" ~>
      s"""${hexCellsSql()}, $hexMomentsSql, ed AS (
         |  SELECT CAST(count(*) AS BIGINT) AS e,
         |         CAST(sum((a.x - b.x) * (a.x - b.x)) AS BIGINT) AS s_d2
         |  FROM cells a JOIN cells b
         |    ON $hexRing1Sql
         |   AND NOT (a.hq = b.hq AND a.hr = b.hr)
         |)
         |SELECT g.n AS n_cells, ed.e AS n_edges,
         |  COALESCE(ed.s_d2, 0) AS s_d2,
         |  CASE WHEN ed.e > 0
         |        AND CAST(g.sum_x2 AS DOUBLE)
         |            - g.n * (CAST(g.sum_x AS DOUBLE)/g.n)
         |              * (CAST(g.sum_x AS DOUBLE)/g.n) > 0
         |  THEN CAST(floor(
         |    CAST(g.n - 1 AS DOUBLE) * CAST(COALESCE(ed.s_d2, 0) AS DOUBLE)
         |    / (2.0 * CAST(ed.e AS DOUBLE)
         |       * (CAST(g.sum_x2 AS DOUBLE)
         |          - g.n * (CAST(g.sum_x AS DOUBLE)/g.n)
         |            * (CAST(g.sum_x AS DOUBLE)/g.n)))
         |    * 1e6 + 0.5) AS BIGINT)
         |  END AS c_e6
         |FROM g CROSS JOIN ed""".stripMargin,
    // join-count replay: binary flag at the same threshold, ordered
    // edge sums halved by integer division, hypergeometric expectations
    // from the same exact longs.
    "q_join_counts" ~>
      s"""${hexCellsSql("CASE WHEN count(*) >= 150 THEN 1 ELSE 0 END AS b")}, g AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n,
         |         CAST(sum(b) AS BIGINT) AS nb
         |  FROM cells
         |), ed AS (
         |  SELECT CAST(count(*) AS BIGINT) AS e2,
         |         CAST(sum(a.b * b.b) AS BIGINT) AS bb2,
         |         CAST(sum(CASE WHEN a.b <> b.b THEN 1 ELSE 0 END)
         |              AS BIGINT) AS bw2
         |  FROM cells a JOIN cells b
         |    ON $hexRing1Sql
         |   AND NOT (a.hq = b.hq AND a.hr = b.hr)
         |)
         |SELECT g.n AS n_cells, g.nb AS n_black,
         |  ed.e2 // 2 AS n_edges,
         |  COALESCE(ed.bb2, 0) // 2 AS bb,
         |  COALESCE(ed.bw2, 0) // 2 AS bw,
         |  ed.e2 // 2 - COALESCE(ed.bb2, 0) // 2
         |    - COALESCE(ed.bw2, 0) // 2 AS ww,
         |  CASE WHEN g.n > 1 THEN CAST(floor(
         |    CAST(ed.e2 // 2 AS DOUBLE) * CAST(g.nb AS DOUBLE)
         |      * (CAST(g.nb AS DOUBLE) - 1.0)
         |    / (CAST(g.n AS DOUBLE) * (CAST(g.n AS DOUBLE) - 1.0))
         |    * 1e6 + 0.5) AS BIGINT) END AS ebb_e6,
         |  CASE WHEN g.n > 1 THEN CAST(floor(
         |    2.0 * CAST(ed.e2 // 2 AS DOUBLE) * CAST(g.nb AS DOUBLE)
         |      * CAST(g.n - g.nb AS DOUBLE)
         |    / (CAST(g.n AS DOUBLE) * (CAST(g.n AS DOUBLE) - 1.0))
         |    * 1e6 + 0.5) AS BIGINT) END AS ebw_e6,
         |  CASE WHEN g.n > 1 THEN CAST(floor(
         |    CAST(ed.e2 // 2 AS DOUBLE) * CAST(g.n - g.nb AS DOUBLE)
         |      * (CAST(g.n - g.nb AS DOUBLE) - 1.0)
         |    / (CAST(g.n AS DOUBLE) * (CAST(g.n AS DOUBLE) - 1.0))
         |    * 1e6 + 0.5) AS BIGINT) END AS eww_e6
         |FROM g CROSS JOIN ed""".stripMargin,
    // centrography replay: identical mm quantization, exact HUGEINT
    // sums (the engine's decimal(38,0) twins), and the same closed-form
    // mean/std/eigen-ellipse expression shapes on the cast doubles.
    // convex-hull replay: the support function sampled on 16 integer
    // directions over RAW mm-quantized points — equals the engine's
    // hull-vertex supports iff the hull contains every extreme point.
    "q_convex_hull" ~> {
      val supportsSql = HullDirs.zipWithIndex.map { case ((dx, dy), i) =>
        f"max(xq * ($dx%d) + yq * ($dy%d)) AS s$i%02d"
      }.mkString(",\n         |         ")
      s"""$mmGroupsCtes
         |SELECT grp, CAST(count(*) AS BIGINT) AS n_points,
         |         $supportsSql
         |FROM q GROUP BY 1""".stripMargin
    },
    "q_centrography" ~>
      s"""$mmGroupsCtes, s AS (
         |  SELECT grp, CAST(count(*) AS BIGINT) AS n,
         |         sum(CAST(xq AS HUGEINT)) AS sx,
         |         sum(CAST(yq AS HUGEINT)) AS sy,
         |         sum(CAST(xq AS HUGEINT) * xq) AS sxx,
         |         sum(CAST(yq AS HUGEINT) * yq) AS syy,
         |         sum(CAST(xq AS HUGEINT) * yq) AS sxy
         |  FROM q GROUP BY 1
         |), m AS (
         |  SELECT grp, n,
         |    CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd,
         |    CAST(sxx AS DOUBLE) AS sxxd, CAST(syy AS DOUBLE) AS syyd,
         |    CAST(sxy AS DOUBLE) AS sxyd, CAST(n AS DOUBLE) AS nd
         |  FROM s
         |), abc AS (
         |  SELECT grp, n, nd, sxd, syd,
         |    sxxd - sxd * sxd / nd AS a,
         |    syyd - syd * syd / nd AS b,
         |    sxyd - sxd * syd / nd AS c
         |  FROM m
         |), lam AS (
         |  SELECT grp, n, nd, sxd, syd, a, b, c,
         |    (a + b + sqrt((a - b) * (a - b) + 4.0 * c * c)) / (2.0 * nd)
         |      AS lam1,
         |    (a + b - sqrt((a - b) * (a - b) + 4.0 * c * c)) / (2.0 * nd)
         |      AS lam2
         |  FROM abc
         |)
         |SELECT CAST(grp AS BIGINT) AS grp, n AS n_points,
         |  CAST(floor(sxd / nd / 1000.0 * 1e3 + 0.5) AS BIGINT) AS meanx_e3,
         |  CAST(floor(syd / nd / 1000.0 * 1e3 + 0.5) AS BIGINT) AS meany_e3,
         |  CAST(floor(sqrt((a + b) / nd) / 1000.0 * 1e3 + 0.5) AS BIGINT)
         |    AS std_e3,
         |  CASE WHEN a + b > 0 THEN CAST(floor(
         |    sqrt(2.0 * greatest(lam1, 0.0)) / 1000.0 * 1e3 + 0.5) AS BIGINT)
         |  END AS major_e3,
         |  CASE WHEN a + b > 0 THEN CAST(floor(
         |    sqrt(2.0 * greatest(lam2, 0.0)) / 1000.0 * 1e3 + 0.5) AS BIGINT)
         |  END AS minor_e3,
         |  CASE WHEN a + b > 0 THEN CAST(floor(
         |    atan2(2.0 * c, a - b) / 2.0 * 1e9 + 0.5) AS BIGINT)
         |  END AS theta_e9
         |FROM lam""".stripMargin,
    // KDE replay: hexbin chain, the 2-ring delta fan regenerated by the
    // axial grid-distance predicate, the identical quantized-weight
    // formula (constants printed by the same Scala code) and the exact
    // long numerator; empty-but-reached cells come back via the left
    // join exactly as in the engine.
    "q_kde" ~> {
      val bw2 = 600000.0 * 600000.0
      val norm = 3.0 / (math.Pi * 600000.0 * 600000.0)
      s"""${hexCellsSql()}, ${hexFanSql("c.x")}, wtab AS (
         |  SELECT hq, hr, x,
         |    CASE WHEN (dx*dx + dy*dy) / $bw2 < 1.0
         |    THEN CAST(floor((1.0 - (dx*dx + dy*dy) / $bw2)
         |                  * (1.0 - (dx*dx + dy*dy) / $bw2)
         |                  * 1048576.0 + 0.5) AS BIGINT)
         |    ELSE 0 END AS w
         |  FROM fan
         |), agg AS (
         |  SELECT hq, hr, CAST(sum(x * w) AS BIGINT) AS wnum
         |  FROM wtab GROUP BY 1, 2
         |  HAVING sum(x * w) > 0
         |)
         |SELECT a.hq, a.hr, COALESCE(c.x, 0) AS n_points, a.wnum,
         |  CAST(floor(CAST(a.wnum AS DOUBLE) / 1048576.0 * $norm * 1e18
         |             + 0.5) AS BIGINT) AS dens_e18
         |FROM agg a
         |LEFT JOIN cells c ON c.hq = a.hq AND c.hr = a.hr""".stripMargin
    },
    // Ripley's K replay: quadratic chord cross join over the 1/23
    // sample, counts per rung as conditional sums, then K = A*cnt/n(n-1)
    // and L = sqrt(K/pi) from the identical double constants (chord
    // thresholds and area computed by the same Scala code).
    "q_ripley_k" ~> {
      val bounds = Seq(100000.0, 200000.0, 400000.0)
        .map(graft.geo.engine.GeoEngine.maxChord2For)
      def rung(r: Long, c: String): String =
        s"""SELECT n.n_points, CAST($r AS BIGINT) AS r_meters, cnt.$c AS n_pairs,
           |  CAST(floor($RipleyAreaM2 * CAST(cnt.$c AS DOUBLE)
           |    / CAST(n.n_points * (n.n_points - 1) AS DOUBLE) + 0.5)
           |    AS BIGINT) AS k_e0,
           |  CAST(floor(sqrt($RipleyAreaM2 * CAST(cnt.$c AS DOUBLE)
           |    / CAST(n.n_points * (n.n_points - 1) AS DOUBLE)
           |    / ${math.Pi}) * 1e3 + 0.5) AS BIGINT) AS l_e3
           |FROM cnt CROSS JOIN n""".stripMargin
      s"""WITH p AS (
         |  SELECT l_orderkey*8 + l_linenumber AS pid,
         |         $lonSql AS lon, $latSql AS lat
         |  FROM lineitem
         |  WHERE (l_orderkey*8 + l_linenumber) % 23 = 0
         |), pr AS (
         |  SELECT
         |    ${chord2Sql("a.lon", "a.lat", "b.lon", "b.lat")} AS cd
         |  FROM p a JOIN p b ON a.pid <> b.pid
         |), cnt AS (
         |  SELECT
         |    CAST(sum(CASE WHEN cd <= ${bounds(0)} THEN 1 ELSE 0 END) AS BIGINT) AS c0,
         |    CAST(sum(CASE WHEN cd <= ${bounds(1)} THEN 1 ELSE 0 END) AS BIGINT) AS c1,
         |    CAST(sum(CASE WHEN cd <= ${bounds(2)} THEN 1 ELSE 0 END) AS BIGINT) AS c2
         |  FROM pr
         |), n AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_points FROM p
         |)
         |${rung(100000L, "c0")}
         |UNION ALL
         |${rung(200000L, "c1")}
         |UNION ALL
         |${rung(400000L, "c2")}""".stripMargin
    },
    // cross-K replay: quadratic A x B chord join over the same split
    // sample; conditional exact counts per rung, K/L closed-form.
    "q_cross_k" ~> {
      val bounds = Seq(100000.0, 200000.0, 400000.0)
        .map(graft.geo.engine.GeoEngine.maxChord2For)
      def rung(r: Long, c: String): String =
        s"""SELECT n.n_a, n.n_b, CAST($r AS BIGINT) AS r_meters,
           |  cnt.$c AS n_pairs,
           |  CAST(floor($RipleyAreaM2 * CAST(cnt.$c AS DOUBLE)
           |    / CAST(n.n_a * n.n_b AS DOUBLE) + 0.5)
           |    AS BIGINT) AS k_e0,
           |  CAST(floor(sqrt($RipleyAreaM2 * CAST(cnt.$c AS DOUBLE)
           |    / CAST(n.n_a * n.n_b AS DOUBLE)
           |    / ${math.Pi}) * 1e3 + 0.5) AS BIGINT) AS l_e3
           |FROM cnt CROSS JOIN n""".stripMargin
      s"""WITH p AS (
         |  SELECT (l_orderkey*8 + l_linenumber) AS pid,
         |         $lonSql AS lon, $latSql AS lat
         |  FROM lineitem
         |  WHERE (l_orderkey*8 + l_linenumber) % 23 = 0
         |), pa AS (
         |  SELECT * FROM p WHERE pid % 2 = 0
         |), pb AS (
         |  SELECT * FROM p WHERE pid % 2 = 1
         |), pr AS (
         |  SELECT
         |    ${chord2Sql("a.lon", "a.lat", "b.lon", "b.lat")} AS cd
         |  FROM pa a CROSS JOIN pb b
         |), cnt AS (
         |  SELECT
         |    CAST(sum(CASE WHEN cd <= ${bounds(0)} THEN 1 ELSE 0 END) AS BIGINT) AS c0,
         |    CAST(sum(CASE WHEN cd <= ${bounds(1)} THEN 1 ELSE 0 END) AS BIGINT) AS c1,
         |    CAST(sum(CASE WHEN cd <= ${bounds(2)} THEN 1 ELSE 0 END) AS BIGINT) AS c2
         |  FROM pr
         |), n AS (
         |  SELECT (SELECT CAST(count(*) AS BIGINT) FROM pa) AS n_a,
         |         (SELECT CAST(count(*) AS BIGINT) FROM pb) AS n_b
         |)
         |${rung(100000L, "c0")}
         |UNION ALL
         |${rung(200000L, "c1")}
         |UNION ALL
         |${rung(400000L, "c2")}""".stripMargin
    },
    // local Moran replay: same hexbin chain; neighbor sums from the
    // self-excluded adjacency self-join (LEFT so isolates survive with
    // zero sums and null I/quad), then I_i and the strict-sign quadrant
    // from the exact longs.
    "q_local_moran" ~>
      s"""${hexCellsSql()}, $hexMomentsSql, nbr AS (
         |  SELECT a.hq, a.hr,
         |         CAST(sum(b.x) AS BIGINT) AS nbrsum,
         |         CAST(count(b.x) AS BIGINT) AS nbrn
         |  FROM cells a LEFT JOIN cells b
         |    ON $hexRing1Sql
         |   AND NOT (a.hq = b.hq AND a.hr = b.hr)
         |  GROUP BY 1, 2
         |)
         |SELECT c.hq, c.hr, c.x AS n_points,
         |  COALESCE(nb.nbrsum, 0) AS nbrsum, nb.nbrn,
         |  CASE WHEN nb.nbrn > 0
         |        AND CAST(g.sum_x2 AS DOUBLE)/g.n
         |            - (CAST(g.sum_x AS DOUBLE)/g.n)
         |              * (CAST(g.sum_x AS DOUBLE)/g.n) > 0
         |  THEN CAST(floor(
         |    (CAST(c.x AS DOUBLE) - CAST(g.sum_x AS DOUBLE)/g.n)
         |    * (CAST(nb.nbrsum AS DOUBLE)
         |       - nb.nbrn * (CAST(g.sum_x AS DOUBLE)/g.n))
         |    / (CAST(g.sum_x2 AS DOUBLE)/g.n
         |       - (CAST(g.sum_x AS DOUBLE)/g.n)
         |         * (CAST(g.sum_x AS DOUBLE)/g.n))
         |    * 1e6 + 0.5) AS BIGINT)
    |  END AS i_e6,
         |  CAST(CASE WHEN nb.nbrn > 0
         |        AND CAST(g.sum_x2 AS DOUBLE)/g.n
         |            - (CAST(g.sum_x AS DOUBLE)/g.n)
         |              * (CAST(g.sum_x AS DOUBLE)/g.n) > 0
         |  THEN CASE
         |    WHEN CAST(c.x AS DOUBLE) - CAST(g.sum_x AS DOUBLE)/g.n > 0
         |     AND CAST(nb.nbrsum AS DOUBLE)
         |         - nb.nbrn * (CAST(g.sum_x AS DOUBLE)/g.n) > 0 THEN 1
         |    WHEN CAST(c.x AS DOUBLE) - CAST(g.sum_x AS DOUBLE)/g.n < 0
         |     AND CAST(nb.nbrsum AS DOUBLE)
         |         - nb.nbrn * (CAST(g.sum_x AS DOUBLE)/g.n) > 0 THEN 2
         |    WHEN CAST(c.x AS DOUBLE) - CAST(g.sum_x AS DOUBLE)/g.n < 0
         |     AND CAST(nb.nbrsum AS DOUBLE)
         |         - nb.nbrn * (CAST(g.sum_x AS DOUBLE)/g.n) < 0 THEN 3
         |    WHEN CAST(c.x AS DOUBLE) - CAST(g.sum_x AS DOUBLE)/g.n > 0
         |     AND CAST(nb.nbrsum AS DOUBLE)
         |         - nb.nbrn * (CAST(g.sum_x AS DOUBLE)/g.n) < 0 THEN 4
         |  END END AS BIGINT) AS quad
         |FROM cells c
         |JOIN nbr nb ON c.hq = nb.hq AND c.hr = nb.hr
         |CROSS JOIN g""".stripMargin,
    // emerging hot-spot replay: the full composition in SQL — hexbin
    // cube, dense global-range fill, spatial adjacency x (+-1 bin)
    // space-time Gi*, flag history aggregates (last-bin values by a
    // join on maxb), Mann-Kendall over the z DOUBLES (sign comparisons
    // and tie groups match because both engines derive bit-identical
    // doubles from the same exact longs), and the category CASE chain
    // in the engine's documented precedence.
    "q_emerging" ~>
      s"""$userHexDaysCtes, dcells AS (
        |  SELECT DISTINCT hq, hr FROM counts
        |), dense AS (
        |  SELECT d.hq, d.hr, g.bin, COALESCE(c.x, 0) AS x
        |  FROM dcells d
        |  CROSS JOIN (SELECT unnest(generate_series(minb, maxb)) AS bin
        |              FROM rng) g
        |  LEFT JOIN counts c ON c.hq = d.hq AND c.hr = d.hr AND c.bin = g.bin
        |), g AS (
        |  SELECT CAST(count(*) AS BIGINT) AS nn,
        |         CAST(sum(x) AS BIGINT) AS sum_x,
        |         CAST(sum(x*x) AS BIGINT) AS sum_x2
        |  FROM dense
        |), adj AS (
        |  SELECT a.hq AS ahq, a.hr AS ahr, b.hq AS bhq, b.hr AS bhr
        |  FROM dcells a JOIN dcells b
        |    ON $hexRing1Sql
        |), nbr AS (
        |  SELECT t.hq, t.hr, t.bin,
        |         CAST(sum(u.x) AS BIGINT) AS wsum,
        |         CAST(count(*) AS BIGINT) AS wn
        |  FROM dense t
        |  JOIN adj ON adj.ahq = t.hq AND adj.ahr = t.hr
        |  JOIN dense u ON u.hq = adj.bhq AND u.hr = adj.bhr
        |              AND u.bin BETWEEN t.bin - 1 AND t.bin + 1
        |  GROUP BY 1, 2, 3
        |), zed AS (
        |  SELECT n.hq, n.hr, n.bin,
        |    CASE WHEN g.nn > 1
        |          AND sqrt(CAST(g.sum_x2 AS DOUBLE)/g.nn
        |               - (CAST(g.sum_x AS DOUBLE)/g.nn)
        |                 * (CAST(g.sum_x AS DOUBLE)/g.nn))
        |            * sqrt(CAST(g.nn*n.wn - n.wn*n.wn AS DOUBLE)
        |                   / CAST(g.nn - 1 AS DOUBLE)) > 0
        |    THEN (CAST(n.wsum AS DOUBLE)
        |           - CAST(g.sum_x AS DOUBLE)/g.nn * n.wn)
        |         / (sqrt(CAST(g.sum_x2 AS DOUBLE)/g.nn
        |              - (CAST(g.sum_x AS DOUBLE)/g.nn)
        |                * (CAST(g.sum_x AS DOUBLE)/g.nn))
        |            * sqrt(CAST(g.nn*n.wn - n.wn*n.wn AS DOUBLE)
        |                   / CAST(g.nn - 1 AS DOUBLE)))
        |    END AS z
        |  FROM nbr n CROSS JOIN g
        |), agg AS (
        |  SELECT hq, hr,
        |    CAST(count(*) AS BIGINT) AS n_bins,
        |    max(bin) AS maxb,
        |    CAST(sum(CASE WHEN z IS NOT NULL AND z >= 1.96
        |                  THEN 1 ELSE 0 END) AS BIGINT) AS n_hot,
        |    CAST(sum(CASE WHEN z IS NOT NULL AND z <= -1.96
        |                  THEN 1 ELSE 0 END) AS BIGINT) AS n_cold,
        |    max(CASE WHEN NOT (z IS NOT NULL AND z >= 1.96)
        |             THEN bin END) AS last_not_hot,
        |    max(CASE WHEN NOT (z IS NOT NULL AND z <= -1.96)
        |             THEN bin END) AS last_not_cold
        |  FROM zed GROUP BY 1, 2
        |), lastv AS (
        |  SELECT z.hq, z.hr, z.z AS last_z,
        |    CASE WHEN z.z IS NOT NULL AND z.z >= 1.96
        |         THEN 1 ELSE 0 END AS last_hot,
        |    CASE WHEN z.z IS NOT NULL AND z.z <= -1.96
        |         THEN 1 ELSE 0 END AS last_cold
        |  FROM zed z JOIN agg a
        |    ON z.hq = a.hq AND z.hr = a.hr AND z.bin = a.maxb
        |), prs AS (
        |  SELECT a.hq, a.hr, a.z AS xi, b.z AS xj
        |  FROM zed a JOIN zed b
        |    ON a.hq = b.hq AND a.hr = b.hr AND a.bin < b.bin
        |), sagg AS (
        |  SELECT hq, hr,
        |    CAST(sum(CASE WHEN xj > xi THEN 1
        |                  WHEN xj < xi THEN -1 ELSE 0 END) AS BIGINT) AS s
        |  FROM prs GROUP BY 1, 2
        |), zties AS (
        |  SELECT hq, hr,
        |    CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie18
        |  FROM (SELECT hq, hr, z, CAST(count(*) AS BIGINT) AS t
        |        FROM zed GROUP BY 1, 2, 3)
        |  GROUP BY 1, 2
        |), mk AS (
        |  SELECT a.hq, a.hr,
        |    CASE WHEN a.n_bins * (a.n_bins - 1) * (2 * a.n_bins + 5)
        |              - zt.tie18 > 0
        |    THEN CASE WHEN sg.s > 0 THEN CAST(sg.s - 1 AS DOUBLE)
        |              WHEN sg.s < 0 THEN CAST(sg.s + 1 AS DOUBLE)
        |              ELSE 0.0 END
        |         / sqrt(CAST(a.n_bins * (a.n_bins - 1) * (2 * a.n_bins + 5)
        |                     - zt.tie18 AS DOUBLE) / 18.0)
        |    END AS mk_z
        |  FROM agg a
        |  JOIN zties zt ON zt.hq = a.hq AND zt.hr = a.hr
        |  JOIN sagg sg ON sg.hq = a.hq AND sg.hr = a.hr
        |)
        |SELECT a.hq, a.hr, a.n_bins, a.n_hot, a.n_cold,
        |  CAST(floor(lv.last_z * 1e6 + 0.5) AS BIGINT) AS lastz_e6,
        |  CAST(floor(mk.mk_z * 1e6 + 0.5) AS BIGINT) AS mkz_e6,
        |  CASE
        |    WHEN lv.last_hot = 1 AND a.n_hot = 1 AND a.n_cold = 0
        |      THEN 'new_hot'
        |    WHEN lv.last_hot = 1 AND a.last_not_hot IS NOT NULL
        |     AND a.maxb - a.last_not_hot = a.n_hot
        |     AND NOT (CAST(a.n_hot AS DOUBLE)
        |              >= 0.6 * CAST(a.n_bins AS DOUBLE))
        |     AND a.n_cold = 0 THEN 'consecutive_hot'
        |    WHEN lv.last_hot = 1
        |     AND CAST(a.n_hot AS DOUBLE) >= 0.6 * CAST(a.n_bins AS DOUBLE)
        |     AND mk.mk_z IS NOT NULL AND mk.mk_z >= 1.96
        |      THEN 'intensifying_hot'
        |    WHEN lv.last_hot = 1
        |     AND CAST(a.n_hot AS DOUBLE) >= 0.6 * CAST(a.n_bins AS DOUBLE)
        |     AND mk.mk_z IS NOT NULL AND mk.mk_z <= -1.96
        |      THEN 'diminishing_hot'
        |    WHEN lv.last_hot = 1
        |     AND CAST(a.n_hot AS DOUBLE) >= 0.6 * CAST(a.n_bins AS DOUBLE)
        |      THEN 'persistent_hot'
        |    WHEN lv.last_hot = 0
        |     AND CAST(a.n_hot AS DOUBLE) >= 0.6 * CAST(a.n_bins AS DOUBLE)
        |     AND a.n_cold = 0 THEN 'historical_hot'
        |    WHEN lv.last_hot = 1 AND a.n_cold = 0 THEN 'sporadic_hot'
        |    WHEN lv.last_hot = 1 THEN 'oscillating_hot'
        |    WHEN lv.last_cold = 1 AND a.n_cold = 1 AND a.n_hot = 0
        |      THEN 'new_cold'
        |    WHEN lv.last_cold = 1 AND a.last_not_cold IS NOT NULL
        |     AND a.maxb - a.last_not_cold = a.n_cold
        |     AND NOT (CAST(a.n_cold AS DOUBLE)
        |              >= 0.6 * CAST(a.n_bins AS DOUBLE))
        |     AND a.n_hot = 0 THEN 'consecutive_cold'
        |    WHEN lv.last_cold = 1
        |     AND CAST(a.n_cold AS DOUBLE) >= 0.6 * CAST(a.n_bins AS DOUBLE)
        |     AND mk.mk_z IS NOT NULL AND mk.mk_z <= -1.96
        |      THEN 'intensifying_cold'
        |    WHEN lv.last_cold = 1
        |     AND CAST(a.n_cold AS DOUBLE) >= 0.6 * CAST(a.n_bins AS DOUBLE)
        |     AND mk.mk_z IS NOT NULL AND mk.mk_z >= 1.96
        |      THEN 'diminishing_cold'
        |    WHEN lv.last_cold = 1
        |     AND CAST(a.n_cold AS DOUBLE) >= 0.6 * CAST(a.n_bins AS DOUBLE)
        |      THEN 'persistent_cold'
        |    WHEN lv.last_cold = 0
        |     AND CAST(a.n_cold AS DOUBLE) >= 0.6 * CAST(a.n_bins AS DOUBLE)
        |     AND a.n_hot = 0 THEN 'historical_cold'
        |    WHEN lv.last_cold = 1 AND a.n_hot = 0 THEN 'sporadic_cold'
        |    WHEN lv.last_cold = 1 THEN 'oscillating_cold'
        |    ELSE 'none'
        |  END AS category
        |FROM agg a
        |JOIN lastv lv ON lv.hq = a.hq AND lv.hr = a.hr
        |JOIN mk ON mk.hq = a.hq AND mk.hr = a.hr""".stripMargin,
    // Mann-Kendall replay: webmerc+hexbin chain over per-user fixed
    // positions, exact integer day bins, the dense global-range series
    // via generate_series, S / tie term / 18*Var as exact longs from
    // the pair self-join, then the continuity-corrected z and the
    // exact-median Sen slope (row_number middle picks, averaging the
    // two middles for even pair counts) from the same integers.
    "q_mk_trend" ~>
      s"""$userHexDaysCtes, dense AS (
        |  SELECT d.hq, d.hr, g.bin, COALESCE(c.x, 0) AS x
        |  FROM (SELECT DISTINCT hq, hr FROM counts) d
        |  CROSS JOIN (SELECT unnest(generate_series(minb, maxb)) AS bin
        |              FROM rng) g
        |  LEFT JOIN counts c ON c.hq = d.hq AND c.hr = d.hr AND c.bin = g.bin
        |), prs AS (
        |  SELECT a.hq, a.hr, a.bin AS bi, b.bin AS bj, a.x AS xi, b.x AS xj
        |  FROM dense a JOIN dense b
        |    ON a.hq = b.hq AND a.hr = b.hr AND a.bin < b.bin
        |), sagg AS (
        |  SELECT hq, hr,
        |         CAST(sum(CASE WHEN xj > xi THEN 1
        |                       WHEN xj < xi THEN -1 ELSE 0 END) AS BIGINT) AS s
        |  FROM prs GROUP BY 1, 2
        |), pr AS (
        |  SELECT hq, hr, CAST(xj - xi AS DOUBLE) / (bj - bi) AS slope,
        |         row_number() OVER (PARTITION BY hq, hr
        |                            ORDER BY CAST(xj - xi AS DOUBLE) / (bj - bi),
        |                                     bi, bj) AS rn,
        |         count(*) OVER (PARTITION BY hq, hr) AS cnt
        |  FROM prs
        |), sen AS (
        |  SELECT hq, hr, avg(slope) AS sen_slope
        |  FROM pr WHERE rn = (cnt + 1) // 2 OR rn = cnt // 2 + 1
        |  GROUP BY 1, 2
        |), ties AS (
        |  SELECT hq, hr,
        |         CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie18
        |  FROM (SELECT hq, hr, x, CAST(count(*) AS BIGINT) AS t
        |        FROM dense GROUP BY 1, 2, 3)
        |  GROUP BY 1, 2
        |), nb AS (
        |  SELECT hq, hr, CAST(count(*) AS BIGINT) AS n_bins
        |  FROM dense GROUP BY 1, 2
        |)
        |SELECT nb.hq, nb.hr, nb.n_bins, sagg.s,
        |  nb.n_bins * (nb.n_bins - 1) * (2 * nb.n_bins + 5) - ties.tie18
        |    AS var_s18,
        |  CASE WHEN nb.n_bins * (nb.n_bins - 1) * (2 * nb.n_bins + 5)
        |            - ties.tie18 > 0
        |  THEN CAST(floor(
        |    CASE WHEN sagg.s > 0 THEN CAST(sagg.s - 1 AS DOUBLE)
        |         WHEN sagg.s < 0 THEN CAST(sagg.s + 1 AS DOUBLE)
        |         ELSE 0.0 END
        |    / sqrt(CAST(nb.n_bins * (nb.n_bins - 1) * (2 * nb.n_bins + 5)
        |                - ties.tie18 AS DOUBLE) / 18.0)
        |    * 1e6 + 0.5) AS BIGINT)
        |  END AS z_e6,
        |  CAST(floor(sen.sen_slope * 1e9 + 0.5) AS BIGINT) AS slope_e9
        |FROM nb
        |JOIN ties ON ties.hq = nb.hq AND ties.hr = nb.hr
        |JOIN sagg ON sagg.hq = nb.hq AND sagg.hr = nb.hr
        |JOIN sen ON sen.hq = nb.hq AND sen.hr = nb.hr""".stripMargin,
    // hex ring-expansion join replay: hex-bin both sides with the same
    // chain as q_hex_occupancy, then filter the cross join by the axial
    // grid-distance identity (|dq|+|dr|+|dq+dr|)/2 <= k.  The engine's
    // disk-explode candidate set is exactly this predicate by
    // construction, so the pair sets must be identical.
    "q_hex_ring_join" ~> {
      def hexed(inner: String): String =
        s"""SELECT id, $hexFixSql
           |FROM (
           |  SELECT id, $hexRoundSql
           |  FROM (
           |    SELECT id, $hexFracSql
           |    FROM (
           |      SELECT id, ${webmercSql("lon", "lat")}
           |      FROM ($inner)
           |    )
           |  )
           |)""".stripMargin
      val dataSrc =
        s"SELECT l_orderkey*8 + l_linenumber AS id, $lonSql AS lon, $latSql AS lat FROM lineitem"
      val querySrc =
        s"""SELECT CAST(n_nationkey AS BIGINT) AS id,
          |  $nationLonLatSql
          |FROM nation""".stripMargin
      s"""WITH d AS (${hexed(dataSrc)}),
         |q AS (${hexed(querySrc)})
         |SELECT q.id AS query_id, d.id AS data_id,
         |  CAST((abs(d.hq - q.hq) + abs(d.hr - q.hr) +
         |        abs(d.hq + d.hr - q.hq - q.hr)) / 2 AS BIGINT) AS hex_dist
         |FROM q CROSS JOIN d
         |WHERE (abs(d.hq - q.hq) + abs(d.hr - q.hr) +
         |       abs(d.hq + d.hr - q.hq - q.hr)) / 2 <= 2""".stripMargin
    },
    // web-tile replay: the identical closed-form spherical-Mercator
    // discretization (ln(tan+sqrt(tan^2+1)) is written out, not asinh, so
    // both engines evaluate the same floating-point expression)
    "q_tile_xyz" ~>
      s"""WITH t AS (${webTileSql(64)})
         |SELECT x, y, CAST(count(*) AS BIGINT) AS n_points
         |FROM t GROUP BY 1, 2""".stripMargin,
    // quadkey replay: same tiling at z=5, then the base-4 digit string
    // (digit = 2*yBit + xBit, MSB-first) assembled by unrolled bit ops
    "q_quadkey" ~> {
      val z = 5; val n = 1 << z
      val digits = (1 to z).map { i =>
        val sh = z - i
        s"CAST(((y >> $sh) & 1) * 2 + ((x >> $sh) & 1) AS VARCHAR)"
      }.mkString(" || ")
      s"""WITH t AS (
         |${webTileSql(n)})
         |SELECT $digits AS qk, CAST(count(*) AS BIGINT) AS n_points
         |FROM t GROUP BY 1""".stripMargin
    },
    // geohash replay: 10+10-bit lon/lat indexes, the 20-bit alternating
    // interleave unrolled as bit arithmetic, then 4 base-32 characters
    "q_geohash" ~> {
      val interleave = (0 to 9).flatMap { k =>
        Seq(s"(((li >> ${9 - k}) & 1) << ${19 - 2 * k})",
          s"(((ti >> ${9 - k}) & 1) << ${18 - 2 * k})")
      }.mkString(" | ")
      val chars = (0 to 3).map { i =>
        s"substr('0123456789bcdefghjkmnpqrstuvwxyz', CAST((code >> ${5 * (3 - i)}) & 31 AS INT) + 1, 1)"
      }.mkString(" || ")
      s"""WITH t AS (
         |SELECT CAST(least(greatest(floor(($lonSql + 180.0) / 360.0 * 1024.0), 0), 1023) AS BIGINT) AS li,
         |  CAST(least(greatest(floor(($latSql + 90.0) / 180.0 * 1024.0), 0), 1023) AS BIGINT) AS ti
         |FROM lineitem),
         |c AS (SELECT ($interleave) AS code FROM t)
         |SELECT $chars AS gh, CAST(count(*) AS BIGINT) AS n_points
         |FROM c GROUP BY 1""".stripMargin
    },
    "q_pip_join" ~> {
      val pts = s"SELECT l_orderkey*8 + l_linenumber AS pt_id, $lonSql AS lon, $latSql AS lat FROM lineitem"
      val arms = pipPolys.map(p =>
        s"""SELECT pt_id, '${p.poly_id}' AS poly_id FROM pts
           |WHERE ${convexPipSql(p.ring, "lon", "lat")}""".stripMargin)
      s"WITH pts AS ($pts)\n" + arms.mkString("\nUNION ALL\n")
    },
    "q_knn_chord" ~>
      s"""WITH data AS (
         |  SELECT l_orderkey*8 + l_linenumber AS data_id,
         |         $lonSql AS lon, $latSql AS lat
         |  FROM lineitem
         |), $nationQueriesCte, pairs AS (
         |  SELECT q.query_id, d.data_id,
         |    ${chord2Sql("q.lon", "q.lat", "d.lon", "d.lat")} AS dist
         |  FROM queries q CROSS JOIN data d
         |), ranked AS (
         |  SELECT query_id, data_id,
         |    row_number() OVER (PARTITION BY query_id ORDER BY dist ASC, data_id ASC) AS rnk
         |  FROM pairs
         |)
         |SELECT query_id, data_id, CAST(rnk AS BIGINT) AS rnk
         |FROM ranked WHERE rnk <= 3""".stripMargin,
    "q_knn_geodesic" ~>
      // chord-twin replay of the geodesic kNN (see the query's comment):
      // rank by chord over the 1/12 data subset, report the chord itself
      s"""WITH data AS (
         |  SELECT l_orderkey*8 + l_linenumber AS data_id,
         |         $lonSql AS lon, $latSql AS lat
         |  FROM lineitem
         |  WHERE (l_orderkey*8 + l_linenumber) % 12 = 0
         |  QUALIFY row_number() OVER (
         |    PARTITION BY l_orderkey*8 + l_linenumber
         |    ORDER BY $lonSql, $latSql) = 1
         |), $nationQueriesCte, pairs AS (
         |  SELECT q.query_id, d.data_id,
         |    ${chord2Sql("q.lon", "q.lat", "d.lon", "d.lat")} AS cd
         |  FROM queries q CROSS JOIN data d
         |), ranked AS (
         |  SELECT query_id, data_id, cd,
         |    row_number() OVER (PARTITION BY query_id ORDER BY cd ASC, data_id ASC) AS rnk
         |  FROM pairs
         |)
         |SELECT query_id, data_id,
         |  CAST(floor(cd * 1e9 + 0.5) AS BIGINT) AS cd_e9
         |FROM ranked WHERE rnk <= 3""".stripMargin,
    // chord^2 replayed verbatim (same op order as GeoEngine.chord2); the
    // engine's cell-cover candidate set is provably complete for the
    // radius, so filtering the cross join by the same predicate must
    // produce the identical pair set.
    "q_distance_join" ~>
      s"""WITH data AS (
         |  SELECT l_orderkey*8 + l_linenumber AS data_id,
         |         $lonSql AS lon, $latSql AS lat
         |  FROM lineitem
         |), $nationQueriesCte, pairs AS (
         |  SELECT q.query_id, d.data_id,
         |    ${chord2Sql("q.lon", "q.lat", "d.lon", "d.lat")} AS cd
         |  FROM queries q CROSS JOIN data d
         |)
         |SELECT query_id, data_id,
         |  CAST(floor(cd * 1e12 + 0.5) AS BIGINT) AS cd_e12
         |FROM pairs WHERE cd <= 0.0022""".stripMargin,
    "q_raster_tile" ~> {
      val partLon = "(mod(mod(p_partkey * 11.234567, 359.9) + 359.9, 359.9) - 179.95)"
      val partLat = "(mod(mod(p_partkey * 7.654321, 169.9) + 169.9, 169.9) - 84.95)"
      s"""WITH raster AS (
         |  ${tileSql(partLon, partLat, 2, "part")}
         |  SELECT DISTINCT face, i, j,
         |    CAST(mod(face*16 + i*4 + j, 97) AS DOUBLE) AS value
         |  FROM tiled
         |), li AS (
         |  ${tileSql(lonSql, latSql, 2, "lineitem")}
         |  SELECT face, i, j FROM tiled
         |)
         |SELECT CAST(r.face AS BIGINT) AS face, r.i, r.j,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(r.value) AS BIGINT) AS sum_value
         |FROM li JOIN raster r USING (face, i, j)
         |GROUP BY 1, 2, 3""".stripMargin
    },
    "q_dedup_exact" ~>
      "SELECT min(doc_id) AS keep_id, count(*) AS n_dups FROM documents GROUP BY text",
    // incremental dedup replay: the exact anti-join semantics the Bloom
    // prefilters must be invisible to (NOT EXISTS, so null text survives)
    "q_incremental_dedup" ~>
      """SELECT d.doc_id, d.n_chars FROM documents d
        |WHERE NOT EXISTS (SELECT 1 FROM documents o
        |                  WHERE o.doc_id % 3 = 0 AND o.text = d.text)""".stripMargin,
    "q_dedup_pairs" ~>
      """SELECT CAST(sum(n * (n - 1) / 2) AS BIGINT) AS n_pairs
        |FROM (SELECT count(*) * 2 AS n FROM documents GROUP BY text)""".stripMargin,
    "q_redact" ~>
      """WITH planted AS (
        |  SELECT doc_id,
        |    text || ' contact u' || doc_id || '@mail' || (doc_id % 7) ||
        |    '.example.org or 555-' || ((doc_id * 31) % 900 + 100) ||
        |    '-2368 see https://ex.org/d/' || doc_id AS t
        |  FROM documents
        |)
        |SELECT doc_id,
        |  regexp_replace(
        |    regexp_replace(
        |      regexp_replace(t,
        |        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z][A-Za-z]+',
        |        '<EMAIL>', 'g'),
        |      'https?://[A-Za-z0-9./_%+-]+', '<URL>', 'g'),
        |    '[0-9][0-9][0-9]-[0-9][0-9][0-9]-[0-9][0-9][0-9][0-9]',
        |    '<PHONE>', 'g') AS clean
        |FROM planted""".stripMargin,
    // exact mirror of Dedup.ngramJaccardPairs: FNV-1a(token bytes) per
    // word, shingle = ((OFS^h1)*P ^ h2)*P ... (combine chain), distinct
    // shingle sets, posting-list pair counts, set Jaccard.  HUGEINT
    // arithmetic replays 64-bit wraparound; xor works on the signed view.
    "q_dedup_jaccard" ~>
      s"""$wordHashCtes, sh AS (
        |  SELECT doc_id, ${shinglesSql(3, "[hs[i], hs[i+1], hs[i+2]]", distinct = true)} AS shs
        |  FROM wh
        |), ex AS (
        |  SELECT doc_id, unnest(shs) AS s FROM sh
        |), sz AS (
        |  SELECT doc_id, count(*) AS sz FROM ex GROUP BY 1
        |), pr AS (
        |  SELECT a.doc_id AS left_id, b.doc_id AS right_id, count(*) AS shared
        |  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2
        |)
        |SELECT pr.left_id, pr.right_id,
        |  CAST(floor(CAST(shared AS DOUBLE) / (la.sz + lb.sz - shared) * 1e7 + 0.5) AS BIGINT) AS j_e7
        |FROM pr
        |JOIN sz la ON la.doc_id = pr.left_id
        |JOIN sz lb ON lb.doc_id = pr.right_id
        |WHERE CAST(shared AS DOUBLE) / (la.sz + lb.sz - shared) >= 0.5""".stripMargin,
    // DSIR: replay the whole estimator — FNV bigram hashes, power-of-two
    // unsigned bucket mod (== Java floorMod for 2^k), add-one-smoothed
    // frequency ratio, ln rounded half-up to integer micro-units, exact
    // integer per-doc sums; empty docs score 0 via the left join
    "q_dsir_score" ~>
      s"""$wordHashCtes, sh AS (
        |  SELECT doc_id, ${shinglesSql(2, "hs[i:i+1]", distinct = false)} AS shs
        |  FROM wh
        |), ex AS (
        |  SELECT doc_id, unnest(shs) AS h FROM sh
        |), bk AS (
        |  SELECT doc_id, CAST(h % 512 AS INTEGER) AS b FROM ex
        |), qc AS (
        |  SELECT b, count(*) AS c FROM bk GROUP BY 1
        |), pc AS (
        |  SELECT b, count(*) AS c FROM bk WHERE doc_id % 50 = 0 GROUP BY 1
        |), tot AS (
        |  SELECT (SELECT count(*) FROM bk WHERE doc_id % 50 = 0) + 512.0 AS pt,
        |         (SELECT count(*) FROM bk) + 512.0 AS qt
        |), wt AS (
        |  SELECT g.b, CAST(floor(1000000.0 * (ln((COALESCE(pc.c, 0) + 1) / tot.pt)
        |      - ln((COALESCE(qc.c, 0) + 1) / tot.qt)) + 0.5) AS BIGINT) AS w
        |  FROM (SELECT unnest(generate_series(0, 511)) AS b) g
        |  LEFT JOIN pc ON pc.b = g.b LEFT JOIN qc ON qc.b = g.b, tot
        |), sc AS (
        |  SELECT bk.doc_id, SUM(wt.w) AS s FROM bk JOIN wt ON wt.b = bk.b GROUP BY 1
        |)
        |SELECT d.doc_id, CAST(COALESCE(sc.s, 0) AS BIGINT) AS score_e6
        |FROM documents d LEFT JOIN sc ON sc.doc_id = d.doc_id""".stripMargin,
    // hashed-bigram LM: replay the model end to end — unigram windows are
    // one-element FNV folds, bigrams the two-element folds, counts over
    // the reference subset, smoothed ln tables (c+1 bigram, c+B unigram),
    // position-aligned per-doc sums
    "q_lm_logprob" ~>
      s"""$wordHashCtes, us AS (
        |  SELECT doc_id, list_transform(hs, h0 ->
        |    ${fnvCombineSql("[h0]")}) AS us
        |  FROM wh
        |), sh AS (
        |  SELECT doc_id, ${shinglesSql(2, "hs[i:i+1]", distinct = false)} AS shs
        |  FROM wh
        |), cu AS (
        |  SELECT CAST(u % 1024 AS INTEGER) AS b, count(*) AS c
        |  FROM (SELECT doc_id, unnest(us) AS u FROM us)
        |  WHERE doc_id % 10 = 0 GROUP BY 1
        |), cb AS (
        |  SELECT CAST(g % 1024 AS INTEGER) AS b, count(*) AS c
        |  FROM (SELECT doc_id, unnest(shs) AS g FROM sh)
        |  WHERE doc_id % 10 = 0 GROUP BY 1
        |), wu AS (
        |  SELECT g.b, CAST(floor(1000000.0 * ln(COALESCE(cu.c, 0) + 1024.0) + 0.5) AS BIGINT) AS w
        |  FROM (SELECT unnest(generate_series(0, 1023)) AS b) g
        |  LEFT JOIN cu ON cu.b = g.b
        |), wb AS (
        |  SELECT g.b, CAST(floor(1000000.0 * ln(COALESCE(cb.c, 0) + 1.0) + 0.5) AS BIGINT) AS w
        |  FROM (SELECT unnest(generate_series(0, 1023)) AS b) g
        |  LEFT JOIN cb ON cb.b = g.b
        |), pos AS (
        |  SELECT s.doc_id, unnest(generate_series(1, len(s.shs))) AS i, s.shs, u.us
        |  FROM sh s JOIN us u ON u.doc_id = s.doc_id
        |), pair AS (
        |  SELECT doc_id, CAST(shs[i] % 1024 AS INTEGER) AS gb,
        |    CAST(us[i] % 1024 AS INTEGER) AS ub FROM pos
        |), sc AS (
        |  SELECT pair.doc_id, SUM(wb.w - wu.w) AS lp, count(*) AS nb
        |  FROM pair JOIN wb ON wb.b = pair.gb JOIN wu ON wu.b = pair.ub
        |  GROUP BY 1
        |)
        |SELECT d.doc_id, CAST(COALESCE(sc.lp, 0) AS BIGINT) AS lp_e6,
        |  CAST(COALESCE(sc.nb, 0) AS BIGINT) AS n_bi
        |FROM documents d LEFT JOIN sc ON sc.doc_id = d.doc_id""".stripMargin,
    // exact substring-duplicate spans: replay the ORDERED (not distinct)
    // 8-token FNV window hashes with positions, mark occurrences >= 2
    // minus the globally-first (doc_id, pos), and merge overlapping /
    // contiguous windows per doc via gaps-and-islands
    "q_dedup_spans" ~>
      s"""$wordHashCtes, sh AS (
        |  SELECT doc_id, ${shinglesSql(8, "hs[i:i+7]", distinct = false)} AS shs
        |  FROM wh
        |), ex AS (
        |  SELECT doc_id, unnest(generate_series(1, len(shs))) AS i, shs FROM sh
        |), win AS (
        |  SELECT doc_id, i - 1 AS pos, shs[i] AS h FROM ex
        |), marked AS (
        |  SELECT doc_id, pos,
        |    count(*) OVER (PARTITION BY h) AS occ,
        |    row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rnk
        |  FROM win
        |), dup AS (
        |  SELECT doc_id, pos FROM marked WHERE occ >= 2 AND rnk > 1
        |), isl AS (
        |  SELECT doc_id, pos,
        |    CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL
        |      OR pos > lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) + 8
        |      THEN 1 ELSE 0 END AS brk
        |  FROM dup
        |), grp AS (
        |  SELECT doc_id, pos,
        |    sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS g
        |  FROM isl
        |)
        |SELECT doc_id, min(pos) AS span_start, max(pos) + 8 AS span_end
        |FROM grp GROUP BY doc_id, g""".stripMargin,
    // decontamination mirror: identical FNV word-shingle chain as
    // q_dedup_jaccard on both sides; the eval side re-splits the first 8
    // words (single-space join == ws[1:8] since split drops no words).
    "q_decontaminate" ~>
      s"""WITH toks AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS ws
        |  FROM documents
        |), etoks AS (
        |  SELECT doc_id AS eval_id, ws[1:8] AS ws
        |  FROM toks WHERE doc_id % 50 = 0
        |), wh AS (
        |  SELECT doc_id, list_transform(ws, w ->
        |    ${fnvSql("w")}
        |  ) AS hs FROM toks
        |), ewh AS (
        |  SELECT eval_id, list_transform(ws, w ->
        |    ${fnvSql("w")}
        |  ) AS hs FROM etoks
        |), sh AS (
        |  SELECT doc_id, ${shinglesSql(3, "[hs[i], hs[i+1], hs[i+2]]", distinct = true)} AS shs
        |  FROM wh
        |), esh AS (
        |  SELECT eval_id, ${shinglesSql(3, "[hs[i], hs[i+1], hs[i+2]]", distinct = true)} AS shs
        |  FROM ewh
        |), ex AS (
        |  SELECT doc_id, unnest(shs) AS s FROM sh
        |), eex AS (
        |  SELECT eval_id, len(shs) AS esz, unnest(shs) AS s FROM esh
        |)
        |SELECT ex.doc_id, eex.eval_id,
        |  CAST(count(*) AS BIGINT) AS n_shared,
        |  CAST(floor(CAST(count(*) AS DOUBLE) / any_value(eex.esz) * 1e7 + 0.5) AS BIGINT) AS ov_e7
        |FROM ex JOIN eex ON ex.s = eex.s
        |GROUP BY 1, 2""".stripMargin,
    "q_dedup_cluster" ~>
      """WITH RECURSIVE edges AS (
        |  SELECT k AS a, k + 1 AS b FROM range(0, 100) t(k) WHERE k % 10 <> 9
        |  UNION ALL
        |  SELECT 200 AS a, k AS b FROM range(201, 221) t(k)
        |), sym AS (
        |  SELECT a, b FROM edges UNION SELECT b AS a, a AS b FROM edges
        |), reach(src, dst) AS (
        |  SELECT a, a FROM sym
        |  UNION
        |  SELECT r.src, s.b FROM reach r JOIN sym s ON r.dst = s.a
        |)
        |SELECT CAST(src AS BIGINT) AS doc_id,
        |  CAST(min(dst) AS BIGINT) AS cluster_id
        |FROM reach GROUP BY src""".stripMargin,
    "q_semantic_dedup" ~>
      """WITH c AS (
        |  SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv
        |  FROM embeddings WHERE vec_id < 16
        |), a0 AS (
        |  SELECT e.vec_id, CAST(e.embedding AS DOUBLE[]) AS v, c.cid,
        |    list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), c.cv) AS cs
        |  FROM embeddings e CROSS JOIN c
        |), a AS (
        |  SELECT vec_id, v, cid AS cluster FROM (
        |    SELECT *, row_number() OVER (
        |      PARTITION BY vec_id ORDER BY cs DESC, cid ASC) AS rn
        |    FROM a0
        |  ) WHERE rn = 1
        |), dropped AS (
        |  SELECT DISTINCT b.vec_id FROM a x JOIN a b
        |    ON x.cluster = b.cluster AND x.vec_id < b.vec_id
        |  WHERE list_cosine_similarity(x.v, b.v) >= 0.35
        |)
        |SELECT a.vec_id, CAST(a.cluster AS BIGINT) AS cluster,
        |  CAST(a.vec_id NOT IN (SELECT vec_id FROM dropped) AS BIGINT) AS kept
        |FROM a""".stripMargin,
    "q_ann_cosine" ~>
      """WITH q AS (
        |  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
        |  FROM embeddings WHERE vec_id < 10
        |), pairs AS (
        |  SELECT q.query_id, e.vec_id,
        |    list_cosine_similarity(q.qv, CAST(e.embedding AS DOUBLE[])) AS cosine
        |  FROM q CROSS JOIN embeddings e
        |), ranked AS (
        |  SELECT query_id, vec_id,
        |    row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS rnk
        |  FROM pairs
        |)
        |SELECT query_id, vec_id, CAST(rnk AS BIGINT) AS rnk
        |FROM ranked WHERE rnk <= 5""".stripMargin,
    "q_token_count" ~>
      """SELECT doc_id,
        |  CAST(CASE WHEN text IS NULL OR trim(text) = '' THEN 0
        |    ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS BIGINT) AS n_ws,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS n_bpe
        |FROM documents""".stripMargin,
    "q_quality" ~> {
      val stopPat = "(?i)\\b(" + TextOps.stopwordsEn.mkString("|") + ")\\b"
      s"""SELECT doc_id,
         |  CAST(length(text) AS BIGINT) AS n_chars,
         |  CAST(CASE WHEN text IS NULL OR trim(text) = '' THEN 0
         |    ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS BIGINT) AS n_tokens,
         |  CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) * 1000000 //
         |    greatest(length(text), 1) AS BIGINT) AS punct_ppm,
         |  CAST(len(regexp_extract_all(text, '$stopPat')) * 1000000 //
         |    greatest(len(regexp_split_to_array(trim(text), '\\s+')), 1) AS BIGINT) AS stop_ppm
         |FROM documents""".stripMargin
    },
    "q_lang_id" ~> {
      def hits(ws: Seq[String]) =
        s"len(regexp_extract_all(text, '(?i)\\b(${ws.mkString("|")})\\b'))"
      val en = hits(TextOps.stopwordsEn); val de = hits(TextOps.stopwordsDe)
      val fr = hits(TextOps.stopwordsFr); val es = hits(TextOps.stopwordsEs)
      s"""SELECT doc_id, CASE
         |  WHEN greatest($en, $de, $fr, $es) = 0 THEN 'und'
         |  WHEN $en = greatest($en, $de, $fr, $es) THEN 'en'
         |  WHEN $de = greatest($en, $de, $fr, $es) THEN 'de'
         |  WHEN $fr = greatest($en, $de, $fr, $es) THEN 'fr'
         |  ELSE 'es' END AS lang_guess
         |FROM documents""".stripMargin
    },
    "q_event_tiles" ~> {
      val evLon = "(mod(mod(user_id * 17.234567, 359.9) + 359.9, 359.9) - 179.95)"
      val evLat = "(mod(mod(user_id * 23.876543, 169.9) + 169.9, 169.9) - 84.95)"
      s"""${tileSql(evLon, evLat, 2, "events", ", ts, value")}
         |SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS w_start,
         |  CAST(face AS BIGINT) AS face,
         |  CAST(count(*) AS BIGINT) AS n_events,
         |  CAST(round(sum(value) * 1000) AS BIGINT) AS sum_value_milli
         |FROM tiled GROUP BY 1, 2""".stripMargin
    },
    "q_stay_points" ~> {
      val fracLon = s"floor($dayFracSql * 4.0) * 0.5"
      val fracLat = s"floor($dayFracSql * 8.0) * 0.25"
      s"""WITH p AS (
         |  SELECT event_id, user_id, ts,
         |    (user_id % 60) * 3.0 - 90.0 + $fracLon AS lon,
         |    (user_id % 30) * 2.0 - 30.0 + $fracLat AS lat
         |  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
         |), lagged AS (
         |  SELECT event_id, user_id, ts, lon, lat,
         |    CASE WHEN lag(lon) OVER w IS NULL
         |      OR lag(lon) OVER w <> lon OR lag(lat) OVER w <> lat
         |    THEN 1 ELSE 0 END AS brk
         |  FROM p WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
         |), isl AS (
         |  SELECT user_id, ts, lon, lat,
         |    sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
         |      ROWS UNBOUNDED PRECEDING) AS island
         |  FROM lagged
         |), runs AS (
         |  SELECT user_id, island, lon, lat,
         |    CAST(count(*) AS BIGINT) AS n_points,
         |    CAST(epoch_us(min(ts)) AS BIGINT) AS first_us,
         |    CAST(epoch_us(max(ts)) AS BIGINT) AS last_us
         |  FROM isl GROUP BY user_id, island, lon, lat
         |)
         |SELECT user_id,
         |  CAST(row_number() OVER (PARTITION BY user_id ORDER BY first_us)
         |    AS BIGINT) AS stay_seq,
         |  n_points,
         |  CAST(floor(lon * 1e7 + 0.5) AS BIGINT) AS lon_e7,
         |  CAST(floor(lat * 1e7 + 0.5) AS BIGINT) AS lat_e7,
         |  first_us, last_us
         |FROM runs WHERE last_us - first_us >= 1800000000""".stripMargin
    },
    // chord² threshold computed by the SAME Scala code the query uses and
    // embedded via Double.toString (shortest round-trip decimal), so both
    // engines compare against the bit-identical constant
    "q_trajectory" ~>
      s"""${segmentFlagsSql("")}, seg AS (
         |  SELECT user_id, ts,
         |    sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
         |      ROWS UNBOUNDED PRECEDING) AS segment_seq
         |  FROM flagged)
         |SELECT user_id, CAST(segment_seq AS BIGINT) AS segment_seq,
         |  CAST(count(*) AS BIGINT) AS n_points,
         |  CAST(epoch_us(min(ts)) AS BIGINT) AS first_us,
         |  CAST(epoch_us(max(ts)) AS BIGINT) AS last_us
         |FROM seg GROUP BY user_id, segment_seq""".stripMargin,
    "q_od_flows" ~>
      s"""${segmentFlagsSql(", lon, lat")}, seg AS (
         |  SELECT event_id, user_id, ts, lon, lat,
         |    sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
         |      ROWS UNBOUNDED PRECEDING) AS segment_seq
         |  FROM flagged
         |), numbered AS (
         |  SELECT user_id, segment_seq, lon, lat,
         |    row_number() OVER (PARTITION BY user_id, segment_seq
         |      ORDER BY ts, event_id) AS rn_a,
         |    row_number() OVER (PARTITION BY user_id, segment_seq
         |      ORDER BY ts DESC, event_id DESC) AS rn_d,
         |    count(*) OVER (PARTITION BY user_id, segment_seq) AS np
         |  FROM seg
         |), epl AS (
         |  SELECT user_id, segment_seq, 'o' AS side, lon, lat
         |  FROM numbered WHERE rn_a = 1 AND np >= 2
         |  UNION ALL
         |  SELECT user_id, segment_seq, 'd' AS side, lon, lat
         |  FROM numbered WHERE rn_d = 1 AND np >= 2
         |), ot AS (
         |  ${tileSql("lon", "lat", 6, "epl", ", user_id, segment_seq, side")}
         |  SELECT user_id, segment_seq, side, face, i, j FROM tiled
         |)
         |SELECT CAST(o.face AS BIGINT) AS o_face, o.i AS o_i, o.j AS o_j,
         |  CAST(d.face AS BIGINT) AS d_face, d.i AS d_i, d.j AS d_j,
         |  CAST(count(*) AS BIGINT) AS n_trips
         |FROM ot o JOIN ot d
         |  ON o.user_id = d.user_id AND o.segment_seq = d.segment_seq
         |  AND o.side = 'o' AND d.side = 'd'
         |GROUP BY 1, 2, 3, 4, 5, 6""".stripMargin,
    "q_dbscan" ~> {
      val c2 = graft.geo.engine.GeoEngine.maxChord2For(500.0)
      s"""WITH RECURSIVE pts AS (
         |  SELECT CAST(c_custkey AS BIGINT) AS pt_id,
         |    CASE WHEN c_custkey % 97 = 0 THEN (c_custkey % 40) * 0.5 - 140.0
         |         ELSE (c_custkey % 24) % 6 * 50.0 - 125.0 END AS lon,
         |    CASE WHEN c_custkey % 97 = 0 THEN -75.0
         |         ELSE floor((c_custkey % 24) / 6) * 30.0 - 45.0
         |              + floor(c_custkey / 24) * 0.002 END AS lat
         |  FROM customer
         |), v AS (
         |  SELECT pt_id, $xyzSql
         |  FROM pts
         |), pairs AS (
         |  SELECT a.pt_id AS a, b.pt_id AS b
         |  FROM v a JOIN v b ON a.pt_id <> b.pt_id
         |   AND $xyzChord2Sql <= $c2
         |), core AS (
         |  SELECT a AS pt_id FROM pairs GROUP BY a HAVING count(*) + 1 >= 5
         |), ce AS (
         |  SELECT p.a, p.b FROM pairs p
         |  WHERE p.a IN (SELECT pt_id FROM core)
         |    AND p.b IN (SELECT pt_id FROM core)
         |), reach(src, dst) AS (
         |  SELECT pt_id, pt_id FROM core
         |  UNION
         |  SELECT r.src, e.b FROM reach r JOIN ce e ON r.dst = e.a
         |), lbl AS (
         |  SELECT src AS pt_id, min(dst) AS cluster_id FROM reach GROUP BY src
         |), border AS (
         |  SELECT p.a AS pt_id, min(l.cluster_id) AS cluster_id
         |  FROM pairs p JOIN lbl l ON p.b = l.pt_id
         |  WHERE p.a NOT IN (SELECT pt_id FROM core)
         |  GROUP BY p.a
         |)
         |SELECT pts.pt_id,
         |  CAST(pts.pt_id IN (SELECT pt_id FROM core) AS BIGINT) AS is_core,
         |  CAST(coalesce(l.cluster_id, b.cluster_id) AS BIGINT) AS cluster_id
         |FROM pts
         |LEFT JOIN lbl l ON pts.pt_id = l.pt_id
         |LEFT JOIN border b ON pts.pt_id = b.pt_id""".stripMargin
    },
    "q_colocation" ~> {
      val c2 = graft.geo.engine.GeoEngine.maxChord2For(10000.0)
      s"""WITH p AS (
         |  SELECT event_id, CAST(user_id AS BIGINT) AS user_id,
         |    epoch_us(ts) AS t_us,
         |    $eventPointsSql
         |  FROM events
         |  WHERE ts IS NOT NULL AND user_id IS NOT NULL AND event_id % 4 = 0
         |), v AS (
         |  SELECT event_id, user_id, t_us,
         |    $xyzSql
         |  FROM p
         |)
         |SELECT a.event_id AS a_id, b.event_id AS b_id,
         |  a.user_id AS a_ent, b.user_id AS b_ent,
         |  b.t_us - a.t_us AS dt_us,
         |  CAST(floor(($xyzChord2Sql) * 1e12 + 0.5) AS BIGINT) AS cd_e12
         |FROM v a JOIN v b
         |  ON a.event_id < b.event_id
         |  AND a.user_id <> b.user_id
         |  AND abs(a.t_us - b.t_us) <= 1800000000
         |  AND $xyzChord2Sql <= $c2""".stripMargin
    },
    // Clark-Evans replay: per-point quadratic min of the quantized NN
    // arc over pairs inside the chord bound, exact BIGINT sum, and the
    // same closed-form obs/exp/R/z (constants printed by the same
    // Scala code).
    "q_ann_stat" ~> {
      val c2 = graft.geo.engine.GeoEngine.maxChord2For(500000.0)
      val twoR = 2.0 * 6378137.0
      val a = RipleyAreaM2
      s"""WITH p AS (
         |  SELECT event_id,
         |    $eventPointsSql
         |  FROM events
         |  WHERE ts IS NOT NULL AND event_id % 4 = 0
         |), v AS (
         |  SELECT event_id,
         |    $xyzSql
         |  FROM p
         |), nn AS (
         |  SELECT a.event_id,
         |    min(CAST(floor($twoR * asin(sqrt(
         |      $xyzChord2Sql) / 2.0) * 1e6 + 0.5) AS BIGINT))
         |      AS nnd_um
         |  FROM v a JOIN v b
         |    ON a.event_id <> b.event_id
         |   AND $xyzChord2Sql <= $c2
         |  GROUP BY 1
         |), g AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n,
         |         CAST(sum(nnd_um) AS BIGINT) AS s
         |  FROM nn
         |)
         |SELECT n AS n_points, COALESCE(s, 0) AS sum_nnd_um,
         |  CASE WHEN n > 0 THEN CAST(floor(
         |    CAST(s AS DOUBLE) / CAST(n AS DOUBLE) / 1e6 * 1e6 + 0.5)
         |    AS BIGINT) END AS obs_e6,
         |  CASE WHEN n > 0 THEN CAST(floor(
         |    0.5 / sqrt(CAST(n AS DOUBLE) / $a) * 1e6 + 0.5) AS BIGINT)
         |  END AS exp_e6,
         |  CASE WHEN n > 0 THEN CAST(floor(
         |    (CAST(s AS DOUBLE) / CAST(n AS DOUBLE) / 1e6)
         |    / (0.5 / sqrt(CAST(n AS DOUBLE) / $a)) * 1e9 + 0.5) AS BIGINT)
         |  END AS r_e9,
         |  CASE WHEN n > 0 THEN CAST(floor(
         |    ((CAST(s AS DOUBLE) / CAST(n AS DOUBLE) / 1e6)
         |     - 0.5 / sqrt(CAST(n AS DOUBLE) / $a))
         |    / (0.26136 / sqrt(CAST(n AS DOUBLE) * CAST(n AS DOUBLE) / $a))
         |    * 1e6 + 0.5) AS BIGINT)
         |  END AS z_e6
         |FROM g""".stripMargin
    },
    // Knox replay: quadratic pair frame over the same drifting points,
    // conditional exact counts for the three cuts, then E = ns*nt/C(n,2)
    // and z = (nst - E)/sqrt(E) from the identical integers.
    "q_knox" ~> {
      val c2 = graft.geo.engine.GeoEngine.maxChord2For(10000.0)
      s"""WITH p AS (
         |  SELECT event_id, epoch_us(ts) AS t_us,
         |    $eventPointsSql
         |  FROM events
         |  WHERE ts IS NOT NULL AND event_id % 4 = 0
         |), v AS (
         |  SELECT event_id, t_us,
         |    $xyzSql
         |  FROM p
         |), pr AS (
         |  SELECT $xyzChord2Sql AS cd,
         |    abs(a.t_us - b.t_us) AS dt
         |  FROM v a JOIN v b ON a.event_id < b.event_id
         |), g AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n FROM v
         |), agg AS (
         |  SELECT
         |    CAST(sum(CASE WHEN cd <= $c2 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS ns,
         |    CAST(sum(CASE WHEN dt <= 1800000000 THEN 1 ELSE 0 END)
         |      AS BIGINT) AS nt,
         |    CAST(sum(CASE WHEN cd <= $c2 AND dt <= 1800000000
         |      THEN 1 ELSE 0 END) AS BIGINT) AS nst
         |  FROM pr
         |)
         |SELECT g.n AS n_points, agg.ns AS n_space, agg.nt AS n_time,
         |  agg.nst AS n_spacetime,
         |  CASE WHEN g.n > 1 THEN CAST(floor(
         |    CAST(agg.ns AS DOUBLE) * CAST(agg.nt AS DOUBLE)
         |      / CAST(g.n * (g.n - 1) // 2 AS DOUBLE) * 1e6 + 0.5) AS BIGINT)
         |  END AS e_e6,
         |  CASE WHEN g.n > 1
         |        AND CAST(agg.ns AS DOUBLE) * CAST(agg.nt AS DOUBLE)
         |            / CAST(g.n * (g.n - 1) // 2 AS DOUBLE) > 0
         |  THEN CAST(floor(
         |    (CAST(agg.nst AS DOUBLE)
         |      - CAST(agg.ns AS DOUBLE) * CAST(agg.nt AS DOUBLE)
         |        / CAST(g.n * (g.n - 1) // 2 AS DOUBLE))
         |    / sqrt(CAST(agg.ns AS DOUBLE) * CAST(agg.nt AS DOUBLE)
         |           / CAST(g.n * (g.n - 1) // 2 AS DOUBLE))
         |    * 1e6 + 0.5) AS BIGINT)
         |  END AS z_e6
         |FROM g CROSS JOIN agg""".stripMargin
    },
    "q_sessionize" ~>
      """WITH flagged AS (
        |  SELECT event_id, user_id, ts, value,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR ts > lag(ts) OVER w + INTERVAL 30 MINUTE
        |         THEN 1 ELSE 0 END AS is_new
        |  FROM events WHERE ts IS NOT NULL
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), sess AS (
        |  SELECT user_id, ts, value,
        |    sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS UNBOUNDED PRECEDING) AS session_seq
        |  FROM flagged)
        |SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(round(sum(value) * 1000) AS BIGINT) AS sum_value_milli,
        |  CAST(epoch_us(min(ts)) AS BIGINT) AS first_us,
        |  CAST(epoch_us(max(ts)) AS BIGINT) AS last_us
        |FROM sess GROUP BY user_id, session_seq""".stripMargin,
    "q_interval_join" ~>
      """WITH iv AS (
        |  SELECT c_custkey AS custkey, CAST(i AS BIGINT) AS version,
        |    757382400000000 + i * (90 + c_custkey % 30) * 86400000000
        |      AS vstart_us,
        |    757382400000000 + (i + 1) * (90 + c_custkey % 30) * 86400000000
        |      AS vend_us
        |  FROM customer, generate_series(0, 23) AS g(i)
        |)
        |SELECT o.o_orderkey, o.o_custkey AS custkey, iv.version,
        |  CAST(iv.vstart_us AS BIGINT) AS vstart_us
        |FROM orders o LEFT JOIN iv ON o.o_custkey = iv.custkey
        |  AND epoch_us(o.o_orderdate) >= iv.vstart_us
        |  AND epoch_us(o.o_orderdate) < iv.vend_us""".stripMargin,
    "q_asof_join" ~>
      """WITH l AS (SELECT * FROM events WHERE event_type = 'click'),
        |     r AS (SELECT * FROM events WHERE event_type = 'view')
        |SELECT l.event_id AS click_id, l.user_id AS user_id,
        |  r.event_id AS view_id,
        |  CAST(epoch_us(l.ts) - epoch_us(r.ts) AS BIGINT) AS lag_us,
        |  CAST(floor(r.value * 1000 + 0.5) AS BIGINT) AS view_value_milli
        |FROM l LEFT JOIN r
        |  ON l.user_id = r.user_id AND r.ts <= l.ts
        | AND r.ts >= l.ts - INTERVAL 30 MINUTE
        |QUALIFY row_number() OVER (PARTITION BY l.event_id
        |  ORDER BY r.ts DESC, r.event_id DESC) = 1""".stripMargin,
    "q_text_stats" ~>
      """SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars_m,
        |CAST(length(text) - length(replace(text, ' ', '')) AS BIGINT) AS n_spaces
        |FROM documents""".stripMargin,
    // FNV-1a over whitespace-normalized lower-case text, folded in
    // HUGEINT and wrapped back to the signed 64-bit domain — mirrors
    // graft.data.DedupHash.fingerprint exactly for BMP text.
    // repetition stats replayed relationally: unnest the same alnum-run
    // tokens with ordinals, build bigrams/trigrams via window leads,
    // aggregate totals / distincts / max group count per document.
    "q_repetition" ~>
      """WITH toks AS (
        |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w,
        |         generate_subscripts(regexp_extract_all(lower(text), '[a-z0-9]+'), 1) AS i
        |  FROM documents
        |), grams AS (
        |  SELECT doc_id, w,
        |         lead(w, 1) OVER (PARTITION BY doc_id ORDER BY i) AS w2,
        |         lead(w, 2) OVER (PARTITION BY doc_id ORDER BY i) AS w3
        |  FROM toks
        |), uni AS (
        |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS words,
        |         CAST(count(*) AS BIGINT) AS distinct_words,
        |         CAST(max(c) AS BIGINT) AS top_word
        |  FROM (SELECT doc_id, w, count(*) AS c FROM grams GROUP BY doc_id, w)
        |  GROUP BY doc_id
        |), bi AS (
        |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS bigrams,
        |         CAST(count(*) AS BIGINT) AS distinct_bigrams,
        |         CAST(max(c) AS BIGINT) AS top_bigram
        |  FROM (SELECT doc_id, w || ' ' || w2 AS g, count(*) AS c FROM grams
        |        WHERE w2 IS NOT NULL GROUP BY doc_id, g)
        |  GROUP BY doc_id
        |), tri AS (
        |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS trigrams,
        |         CAST(count(*) AS BIGINT) AS distinct_trigrams,
        |         CAST(max(c) AS BIGINT) AS top_trigram
        |  FROM (SELECT doc_id, w || ' ' || w2 || ' ' || w3 AS g, count(*) AS c
        |        FROM grams WHERE w3 IS NOT NULL GROUP BY doc_id, g)
        |  GROUP BY doc_id
        |)
        |SELECT d.doc_id,
        |  CAST(COALESCE(u.words, 0) AS BIGINT) AS words,
        |  CAST(COALESCE(u.distinct_words, 0) AS BIGINT) AS distinct_words,
        |  CAST(COALESCE(u.top_word, 0) AS BIGINT) AS top_word,
        |  CAST(COALESCE(b.bigrams, 0) AS BIGINT) AS bigrams,
        |  CAST(COALESCE(b.distinct_bigrams, 0) AS BIGINT) AS distinct_bigrams,
        |  CAST(COALESCE(b.top_bigram, 0) AS BIGINT) AS top_bigram,
        |  CAST(COALESCE(t.trigrams, 0) AS BIGINT) AS trigrams,
        |  CAST(COALESCE(t.distinct_trigrams, 0) AS BIGINT) AS distinct_trigrams,
        |  CAST(COALESCE(t.top_trigram, 0) AS BIGINT) AS top_trigram
        |FROM documents d
        |LEFT JOIN uni u ON d.doc_id = u.doc_id
        |LEFT JOIN bi b ON d.doc_id = b.doc_id
        |LEFT JOIN tri t ON d.doc_id = t.doc_id""".stripMargin,
    // split assignment: the q_fingerprint FNV fold, bucketed mod 100 with
    // Spark's pmod sign convention, thresholded at 90/95.
    "q_split_assign" ~>
      s"""WITH norm AS (
        |  SELECT doc_id, lang, regexp_replace(lower(text), '\\s+', ' ', 'g') AS t
        |  FROM documents
        |), folded AS (
        |  SELECT doc_id, lang, ${fnvSql("t")} AS fp_u
        |  FROM norm
        |), signedfp AS (
        |  SELECT lang,
        |    ${signedSql("fp_u")} AS fp
        |  FROM folded
        |), buck AS (
        |  SELECT lang, CAST(((fp % 100) + 100) % 100 AS BIGINT) AS b FROM signedfp
        |)
        |SELECT lang,
        |  CASE WHEN b < 90 THEN 'train' WHEN b < 95 THEN 'valid'
        |    ELSE 'test' END AS split,
        |  count(*) AS n_docs
        |FROM buck GROUP BY lang, 2""".stripMargin,
    // paragraph dedup: replay the 3-paragraph construction, then the
    // first-occurrence-of-duplicates rule via windows over paragraph
    // text (the engine partitions by xxhash64(paragraph); identical
    // verdicts absent 64-bit collisions).
    "q_paragraph_dedup" ~>
      """WITH built AS (
        |  SELECT doc_id,
        |    'terms of service v' || (doc_id % 3) || chr(10) ||
        |    array_to_string(parts[1:8], ' ') || chr(10) ||
        |    array_to_string(parts[9:len(parts)], ' ') AS text
        |  FROM (SELECT doc_id,
        |          list_filter(string_split(text, ' '), w -> w <> '') AS parts
        |        FROM documents)
        |), paras AS (
        |  SELECT doc_id,
        |    unnest(string_split(text, chr(10))) AS para,
        |    generate_subscripts(string_split(text, chr(10)), 1) AS idx
        |  FROM built
        |), marked AS (
        |  SELECT doc_id, idx, para,
        |    row_number() OVER (PARTITION BY para ORDER BY doc_id, idx) AS rn,
        |    count(*) OVER (PARTITION BY para) AS n
        |  FROM paras
        |)
        |SELECT doc_id, string_agg(para, chr(10) ORDER BY idx) AS clean
        |FROM marked WHERE n = 1 OR rn = 1 OR trim(para) = ''
        |GROUP BY doc_id""".stripMargin,
    // stratified sample: the q_fingerprint FNV fold over (text || ' ' ||
    // doc_id) as the rank, then smallest-40-per-language via a window
    // (the engine uses a kth-smallest threshold — same kept set for
    // distinct ranks).
    "q_stratified_sample" ~>
      s"""WITH norm AS (
        |  SELECT doc_id, lang,
        |    regexp_replace(lower(text || ' ' || doc_id), '\\s+', ' ', 'g') AS t
        |  FROM documents
        |), folded AS (
        |  SELECT doc_id, lang, ${fnvSql("t")} AS fp_u
        |  FROM norm
        |), ranked AS (
        |  SELECT lang, doc_id,
        |    row_number() OVER (PARTITION BY lang ORDER BY
        |      ${signedSql("fp_u")}, doc_id) AS rn
        |  FROM folded
        |)
        |SELECT lang, doc_id FROM ranked WHERE rn <= 40""".stripMargin,
    // geo-balanced sampling: cube-face tiling + FNV content rank + a
    // per-cell window replay the engine's kth-smallest threshold exactly
    // (64-bit fingerprints make rank ties impossible in practice).
    "q_geo_sample" ~>
      (tileSql(lonSql, latSql, 3, "lineitem",
        ", l_orderkey*8 + l_linenumber AS pt_id") +
        s""", norm AS (
          |  SELECT pt_id, face, i, j,
          |    regexp_replace(lower('pt ' || pt_id || ' ' || pt_id),
          |      '\\s+', ' ', 'g') AS t
          |  FROM tiled
          |), folded AS (
          |  SELECT pt_id, face, i, j, ${fnvSql("t", "p")} AS fp_u
          |  FROM norm
          |), ranked AS (
          |  SELECT pt_id,
          |    row_number() OVER (PARTITION BY face, i, j ORDER BY
          |      ${signedSql("fp_u")}, pt_id) AS rn
          |  FROM folded
          |)
          |SELECT pt_id FROM ranked WHERE rn <= 5""".stripMargin),
    // sequence packing: same multiplicative-hash order + running token
    // sum as a single window (the engine computes the identical prefix
    // sum distributed, in two passes).
    "q_pack_sequences" ~>
      """WITH t AS (
        |  SELECT doc_id,
        |    CAST(CASE WHEN text IS NULL OR trim(text) = '' THEN 0
        |      ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS BIGINT) AS tok,
        |    (doc_id * 48271) % 2147483647 AS key
        |  FROM documents
        |), c AS (
        |  SELECT doc_id, tok,
        |    sum(tok) OVER (ORDER BY key, doc_id ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM t
        |)
        |SELECT doc_id, CAST((cum - tok) // 256 AS BIGINT) AS seq_id,
        |  CAST((cum - tok) % 256 AS BIGINT) AS seq_off,
        |  tok AS n_tok
        |FROM c""".stripMargin,
    "q_fingerprint" ~>
      s"""WITH norm AS (
        |  SELECT doc_id, regexp_replace(lower(text), '\\s+', ' ', 'g') AS t
        |  FROM documents
        |), folded AS (
        |  SELECT doc_id, ${fnvSql("t")} AS fp_u
        |  FROM norm
        |)
        |SELECT doc_id,
        |  CAST(${signedSql("fp_u")} AS BIGINT) AS fp
        |FROM folded""".stripMargin,
    // bilinear NTv2 shift mirror for tests/test_hgrid_little_endian.gsb:
    // node (row y south->north, col x west->east) carries raw values
    // lat=14400-900*i, lon=-900*(i+1) arcsec with i = y*4 + (3-x); the
    // arithmetic below replays the kernel's float quantization and
    // summation order so results are bit-identical.
    "q_hgridshift" ~>
      s"""WITH pts AS (
        |  SELECT l_orderkey, l_linenumber,
        |    4.05 + (l_partkey * 7 + l_suppkey) % 2900 / 1000.0 AS lon,
        |    52.05 + (l_orderkey * 11 + l_linenumber) % 2900 / 1000.0 AS lat
        |  FROM lineitem
        |), rad AS (
        |  SELECT l_orderkey, l_linenumber,
        |    lon * (pi()/180) AS lam, lat * (pi()/180) AS phi FROM pts
        |), $ntv2CellCtes, sh AS (
        |  SELECT *,
        |    CAST(CAST(14400 - 900*i00 AS REAL) * (pi()/180/3600) AS REAL) AS lat00,
        |    CAST(CAST(14400 - 900*(i00-1) AS REAL) * (pi()/180/3600) AS REAL) AS lat10,
        |    CAST(CAST(14400 - 900*(i00+4) AS REAL) * (pi()/180/3600) AS REAL) AS lat01,
        |    CAST(CAST(14400 - 900*(i00+3) AS REAL) * (pi()/180/3600) AS REAL) AS lat11,
        |    CAST(-CAST(-900*(i00+1) AS REAL) * (pi()/180/3600) AS REAL) AS lon00,
        |    CAST(-CAST(-900*(i00) AS REAL) * (pi()/180/3600) AS REAL) AS lon10,
        |    CAST(-CAST(-900*(i00+5) AS REAL) * (pi()/180/3600) AS REAL) AS lon01,
        |    CAST(-CAST(-900*(i00+4) AS REAL) * (pi()/180/3600) AS REAL) AS lon11
        |  FROM mm
        |), res AS (
        |  SELECT l_orderkey, l_linenumber,
        |    (lam + (m00*lon00 + m10*lon10 + m01*lon01 + m11*lon11)) * (1.0/(pi()/180)) AS olon,
        |    (phi + (m00*lat00 + m10*lat10 + m01*lat01 + m11*lat11)) * (1.0/(pi()/180)) AS olat
        |  FROM sh
        |)
        |SELECT l_orderkey, l_linenumber,
        |  CAST(floor(olon*1e7 + 0.5) AS BIGINT) AS lon_e7,
        |  CAST(floor(olat*1e7 + 0.5) AS BIGINT) AS lat_e7
        |FROM res""".stripMargin,
    // planner CASE mirror: grid bbox -> bilinear NTv2 formula (same as
    // q_hgridshift), otherwise the +18/-36 arcsec constant offset.
    "q_crs_planner" ~>
      s"""WITH pts AS (
        |  SELECT l_orderkey, l_linenumber,
        |    3.05 + (l_partkey * 7 + l_suppkey) % 3900 / 1000.0 AS lon,
        |    51.05 + (l_orderkey * 11 + l_linenumber) % 3900 / 1000.0 AS lat
        |  FROM lineitem
        |), $ntv2ShiftCtes, res AS (
        |  SELECT l_orderkey, l_linenumber,
        |    CASE WHEN lon >= 4.0005 AND lon <= 6.9995 AND
        |              lat >= 52.0005 AND lat <= 54.9995
        |      THEN (lam + vlon) * (1.0/(pi()/180))
        |      ELSE (lam + 18 * (pi()/180/3600)) * (1.0/(pi()/180)) END AS olon,
        |    CASE WHEN lon >= 4.0005 AND lon <= 6.9995 AND
        |              lat >= 52.0005 AND lat <= 54.9995
        |      THEN (phi + vlat) * (1.0/(pi()/180))
        |      ELSE (phi + -36 * (pi()/180/3600)) * (1.0/(pi()/180)) END AS olat
        |  FROM sh
        |)
        |SELECT l_orderkey, l_linenumber,
        |  CAST(floor(olon*1e7 + 0.5) AS BIGINT) AS lon_e7,
        |  CAST(floor(olat*1e7 + 0.5) AS BIGINT) AS lat_e7
        |FROM res""".stripMargin,
    // GTX bilinear mirror: node values of
    // nkgrf03vel_realigned_z_extract.gtx (5x5, row 0 = south, header
    // lat0=62.83333333333334 lon0=21 dlat=1/12 dlon=1/6) embedded as a
    // list; weights replayed in the kernel's exact double order.
    "q_vgridshift" ~>
      """WITH pts AS (
        |  SELECT l_orderkey, l_linenumber,
        |    21.05 + (l_partkey * 7 + l_suppkey) % 600 / 1000.0 AS lon,
        |    62.87 + (l_orderkey * 11 + l_linenumber) % 290 / 1000.0 AS lat,
        |    CAST(l_linenumber * 3 AS DOUBLE) AS z
        |  FROM lineitem
        |), g AS (
        |  SELECT *,
        |    (lon * (pi()/180) - 21 * (pi()/180))
        |      / (0.16666666666666666 * (pi()/180)) AS gx,
        |    (lat * (pi()/180) - 62.83333333333334 * (pi()/180))
        |      / (0.08333333333333333 * (pi()/180)) AS gy
        |  FROM pts
        |), c AS (
        |  SELECT *, CAST(floor(gx) AS INT) AS ix, CAST(floor(gy) AS INT) AS iy,
        |    gx - floor(gx) AS fx, gy - floor(gy) AS fy FROM g
        |), w AS (
        |  SELECT *, fx * fy AS fxy, iy * 5 + ix + 1 AS i00,
        |    [8.303895950317383, 8.253583908081055, 8.203262329101562,
        |     8.142932891845703, 8.072596549987793, 8.371929168701172,
        |     8.331618309020996, 8.291297912597656, 8.230969429016113,
        |     8.170634269714355, 8.439958572387695, 8.409647941589355,
        |     8.369329452514648, 8.319002151489258, 8.2586669921875,
        |     8.4979829788208, 8.477673530578613, 8.437355041503906,
        |     8.397028923034668, 8.346693992614746, 8.556002616882324,
        |     8.535694122314453, 8.505377769470215, 8.475051879882812,
        |     8.424718856811523] AS vals
        |  FROM c
        |), res AS (
        |  SELECT l_orderkey, l_linenumber,
        |    z + (vals[i00] * (1.0 - fx - fy + fxy) + vals[i00 + 1] * (fx - fxy)
        |       + vals[i00 + 5] * (fy - fxy) + vals[i00 + 6] * fxy) AS zo
        |  FROM w
        |)
        |SELECT l_orderkey, l_linenumber,
        |  CAST(floor(zo * 1e7 + 0.5) AS BIGINT) AS z_e7
        |FROM res""".stripMargin,
    // factory-derived planner mirror: same bilinear NTv2 replay as
    // q_crs_planner inside the grid's header extent (4..7 x 52..55 deg),
    // identity (@null bridge) elsewhere.  The node values are the grid's:
    // without it the query's optional grid drops to @null everywhere, so
    // the entry is omitted rather than compared against the wrong field.
    "q_crs_factory" ~> {
      graft.geo.grids.Grids.locate("tests/test_hgrid_little_endian.gsb")
      s"""WITH pts AS (
        |  SELECT l_orderkey, l_linenumber,
        |    3.0504 + (l_partkey * 7 + l_suppkey) % 3900 / 1000.0 AS lon,
        |    51.0504 + (l_orderkey * 11 + l_linenumber) % 3900 / 1000.0 AS lat
        |  FROM lineitem
        |), $ntv2ShiftCtes, res AS (
        |  SELECT l_orderkey, l_linenumber,
        |    CASE WHEN lon >= 4.0 AND lon <= 7.0 AND
        |              lat >= 52.0 AND lat <= 55.0
        |      THEN (lam + vlon) * (1.0/(pi()/180))
        |      ELSE lam * (1.0/(pi()/180)) END AS olon,
        |    CASE WHEN lon >= 4.0 AND lon <= 7.0 AND
        |              lat >= 52.0 AND lat <= 55.0
        |      THEN (phi + vlat) * (1.0/(pi()/180))
        |      ELSE phi * (1.0/(pi()/180)) END AS olat
        |  FROM sh
        |)
        |SELECT l_orderkey, l_linenumber,
        |  CAST(floor(olon*1e7 + 0.5) AS BIGINT) AS lon_e7,
        |  CAST(floor(olat*1e7 + 0.5) AS BIGINT) AS lat_e7
        |FROM res""".stripMargin
    },
    // barycentric mirror of tests/tinshift_crs_implicit.json: vertices
    // (2,49)->(2.1,49.1), (3,50)->(3.1,50.1), (2,50)->(2.1,50.1), one
    // triangle; points planted strictly inside.
    "q_tinshift" ~>
      """WITH pts AS (
        |  SELECT l_orderkey, l_linenumber,
        |    (l_partkey * 3 + l_suppkey) % 900 AS u,
        |    (l_orderkey * 5 + l_linenumber) % 900 AS v
        |  FROM lineitem
        |), xy AS (
        |  SELECT l_orderkey, l_linenumber,
        |    2.0 + least(u, v) / 1000.0 AS x,
        |    49.0 + (greatest(u, v) + 1) / 1000.0 AS y
        |  FROM pts
        |), bary AS (
        |  SELECT *,
        |    ((50.0-50.0)*(x-2.0) + (2.0-3.0)*(y-50.0)) /
        |      ((50.0-50.0)*(2.0-2.0) + (2.0-3.0)*(49.0-50.0)) AS l1,
        |    ((50.0-49.0)*(x-2.0) + (2.0-2.0)*(y-50.0)) /
        |      ((50.0-50.0)*(2.0-2.0) + (2.0-3.0)*(49.0-50.0)) AS l2
        |  FROM xy
        |), res AS (
        |  SELECT l_orderkey, l_linenumber,
        |    2.1*l1 + 3.1*l2 + 2.1*(1.0-l1-l2) AS ox,
        |    49.1*l1 + 50.1*l2 + 50.1*(1.0-l1-l2) AS oy
        |  FROM bary
        |)
        |SELECT l_orderkey, l_linenumber,
        |  CAST(floor(ox*1e7 + 0.5) AS BIGINT) AS x_e7,
        |  CAST(floor(oy*1e7 + 0.5) AS BIGINT) AS y_e7
        |FROM res""".stripMargin,
    "q_l_envelope" ~> {
      // full CSR-envelope replay: the LCG sim generator, observed and
      // per-sim quadratic pair counts, envelope min/max, n_ge and the
      // p-value — all recomputed in SQL with the engine's own op order
      val bounds = Seq(100000.0, 200000.0, 400000.0)
        .map(graft.geo.engine.GeoEngine.maxChord2For)
      val chord = chord2Sql("a.lon", "a.lat", "b.lon", "b.lat")
      def cnt(grp: String): String =
        bounds.zipWithIndex.map { case (c2, k) =>
          s"CAST(sum(CASE WHEN cd <= $c2 THEN 1 ELSE 0 END) AS BIGINT) AS ${grp}c$k"
        }.mkString(", ")
      def rung(k: Int, r: Long): String =
        s"""SELECT CAST($r AS BIGINT) AS r_meters, n.n_points,
           |  CAST(19 AS BIGINT) AS n_sims, o.oc$k AS obs_pairs,
           |  e.lo$k AS lo_pairs, e.hi$k AS hi_pairs, g.ge$k AS n_ge,
           |  CAST(floor(sqrt($RipleyAreaM2 * CAST(o.oc$k AS DOUBLE)
           |    / CAST(n.n_points * (n.n_points - 1) AS DOUBLE)
           |    / ${math.Pi}) * 1e3 + 0.5) AS BIGINT) AS obs_l_e3,
           |  CAST(floor(sqrt($RipleyAreaM2 * CAST(e.hi$k AS DOUBLE)
           |    / CAST(n.n_points * (n.n_points - 1) AS DOUBLE)
           |    / ${math.Pi}) * 1e3 + 0.5) AS BIGINT) AS hi_l_e3,
           |  CAST(floor((CAST(g.ge$k + 1 AS DOUBLE) / 20.0) * 1e6 + 0.5)
           |    AS BIGINT) AS p_e6
           |FROM o, e, g, n""".stripMargin
      s"""WITH p AS (
         |  SELECT l_orderkey*8 + l_linenumber AS pid,
         |         $lonSql AS lon, $latSql AS lat
         |  FROM lineitem
         |  WHERE (l_orderkey*8 + l_linenumber) % 97 = 0
         |), n AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_points FROM p
         |), ids AS (
         |  -- sim ids derived from the data itself (19 sims x n_points),
         |  -- so the oracle scales with sf instead of a fixed range bound
         |  SELECT s.sim,
         |    (s.sim - 1) * (SELECT n_points FROM n) + q.rn AS pid
         |  FROM (SELECT unnest(generate_series(1, 19)) AS sim) s
         |  CROSS JOIN (SELECT row_number() OVER () - 1 AS rn FROM p) q
         |), sims AS (
         |  -- chained LCG: the lat state is the NEXT round of the chain
         |  -- that produced the lon state (consecutive-pair MLCG draws,
         |  -- matching SpatialStats.lEnvelope exactly)
         |  SELECT sim, pid,
         |    (CAST(s1 AS DOUBLE) / 2147483647.0) * 360.0 - 180.0 AS lon,
         |    degrees(asin((CAST((s1 * 69621 + 7919) % 2147483647 AS DOUBLE)
         |       / 2147483647.0) * 2.0 - 1.0)) AS lat
         |  FROM (
         |    SELECT sim, pid,
         |      (((pid*48271 + 42) % 2147483647) * 69621 + 7919)
         |        % 2147483647 AS s1
         |    FROM ids
         |  )
         |), op AS (
         |  SELECT $chord AS cd FROM p a JOIN p b ON a.pid <> b.pid
         |), o AS (
         |  SELECT ${cnt("o")} FROM op
         |), sp_ AS (
         |  SELECT a.sim, $chord AS cd
         |  FROM sims a JOIN sims b ON a.sim = b.sim AND a.pid <> b.pid
         |), persim0 AS (
         |  SELECT sim, ${cnt("s")} FROM sp_ GROUP BY sim
         |), persim AS (
         |  SELECT s.sim, coalesce(sc0, 0) AS sc0, coalesce(sc1, 0) AS sc1,
         |         coalesce(sc2, 0) AS sc2
         |  FROM (SELECT DISTINCT sim FROM sims) s
         |  LEFT JOIN persim0 ON s.sim = persim0.sim
         |), e AS (
         |  SELECT CAST(min(sc0) AS BIGINT) AS lo0, CAST(max(sc0) AS BIGINT) AS hi0,
         |         CAST(min(sc1) AS BIGINT) AS lo1, CAST(max(sc1) AS BIGINT) AS hi1,
         |         CAST(min(sc2) AS BIGINT) AS lo2, CAST(max(sc2) AS BIGINT) AS hi2
         |  FROM persim
         |), g AS (
         |  SELECT CAST(sum(CASE WHEN sc0 >= (SELECT oc0 FROM o) THEN 1 ELSE 0 END) AS BIGINT) AS ge0,
         |         CAST(sum(CASE WHEN sc1 >= (SELECT oc1 FROM o) THEN 1 ELSE 0 END) AS BIGINT) AS ge1,
         |         CAST(sum(CASE WHEN sc2 >= (SELECT oc2 FROM o) THEN 1 ELSE 0 END) AS BIGINT) AS ge2
         |  FROM persim
         |)
         |${rung(0, 100000L)}
         |UNION ALL
         |${rung(1, 200000L)}
         |UNION ALL
         |${rung(2, 400000L)}""".stripMargin
    },
    "q_crs_catalog" ~>
      // the registry catalog is a fixed input (the reference's data/sql
      // scripts), so its aggregate is pinned as literal VALUES — any
      // parser regression (lost rows, flipped deprecation, broken extent
      // join, mangled codes) shifts a count or the code sum and fails
      """SELECT auth, kind, CAST(n AS BIGINT) AS n,
        |  CAST(nd AS BIGINT) AS n_deprecated, CAST(nb AS BIGINT) AS n_bbox,
        |  CAST(cs AS BIGINT) AS code_sum
        |FROM (VALUES
        |  ('EPSG','compound',577,11,577,5231308),
        |  ('EPSG','geocentric',296,44,296,2178981),
        |  ('EPSG','geographic 2D',718,81,717,4476388),
        |  ('EPSG','geographic 3D',300,35,300,2287755),
        |  ('EPSG','projected',5771,364,5757,70929518),
        |  ('EPSG','vertical',309,1,309,2324755),
        |  ('ESRI','geographic 2D',431,185,431,40725638),
        |  ('ESRI','geographic 3D',14,3,14,1463502),
        |  ('ESRI','projected',2274,1151,2274,227449020),
        |  ('ESRI','vertical',272,10,272,31312845),
        |  ('IAU_2015','geographic 2D',115,0,115,4703361818),
        |  ('IAU_2015','other',12,0,12,500597824),
        |  ('IAU_2015','projected',2074,0,2074,79964581844),
        |  ('IGNF','compound',227,0,227,0),
        |  ('IGNF','geocentric',134,0,134,0),
        |  ('IGNF','geographic 2D',152,0,152,0),
        |  ('IGNF','geographic 3D',53,0,53,0),
        |  ('IGNF','projected',260,0,260,0),
        |  ('IGNF','vertical',38,0,38,0),
        |  ('NKG','geocentric',2,0,2,0),
        |  ('OGC','geographic 2D',3,0,3,0),
        |  ('OGC','geographic 3D',1,0,1,0),
        |  ('PROJ','compound',4,0,4,0)
        |) AS t(auth, kind, n, nd, nb, cs)""".stripMargin,
    // the registry-operation sweep is a fixed build input (the pj_list
    // parity table), so each op's (n_ok, checksum) is pinned as literal
    // VALUES computed through the JVM-direct evaluator at oracle-build
    // time (the q_crs_catalog stance): any kernel regression in any of
    // the 186 operations shifts a checksum and fails the hash
    "q_registry_sweep" ~> {
      val rows = graft.geo.proj.RegistrySweep.samples.map { sm =>
        val (n, c) = graft.geo.proj.RegistrySweep.expected(sm)
        s"('${sm.op}',$n,$c)"
      }.mkString(",\n|  ")
      require(rows.nonEmpty, "empty registry sweep")
      s"""SELECT op, CAST(n AS BIGINT) AS n_ok, CAST(c AS BIGINT) AS checksum
         |FROM (VALUES
         |  $rows
         |) AS t(op, n, c)""".stripMargin
    },
    // the authority sweep is likewise a fixed build input (one
    // representative CRS per mapped conversion method + the pinned
    // expected-fail families): every row — checksum or typed reason — is
    // recomputed JVM-direct at oracle-build time and pinned as VALUES
    // (AuthoritySweepSparkSpec already asserts the Catalyst path equals
    // this evaluator bit-for-bit; the oracle re-checks through DuckDB)
    "q_authority_sweep" ~> {
      val M = 1000000007L
      def pmodL(a: Long): Long = ((a % M) + M) % M
      def esc(s: String) = s.replace("'", "''")
      val resolved = graft.geo.proj.AuthorityDb.representatives().map {
        case (method, rc, (plon, plat)) =>
          val k = graft.geo.proj.ProjString.parse(rc.spec)
          val ev = new graft.geo.expr.PointEvaluator(k, forward = true,
            outDims = 2)
          val row = ev.eval(plon, plat, 0.0, Double.NaN)
          val cs = pmodL(math.floor(row.getDouble(0) * 1e3).toLong) +
            pmodL(math.floor(row.getDouble(1) * 1e3).toLong)
          s"('${esc(method)}','${esc(rc.auth + ":" + rc.code)}',$cs,NULL)"
      }
      val unresolved = graft.geo.proj.AuthorityDb.unresolvedProjected()
        .groupBy(u => (u.methodKey, u.methodName))
        .toSeq.sortBy(_._1._1)
        .map { case ((mk, mn), us) =>
          val u0 = us.minBy(u => (u.auth, u.code))
          s"('unresolved:${esc(if (mk.isEmpty) "none" else mk)}'," +
            s"'${esc(s"${u0.auth}:${u0.code}(+${us.size - 1})")}'," +
            s"NULL,'${esc(s"$mn: ${u0.reason}")}')"
        }
      require(resolved.nonEmpty || unresolved.nonEmpty, "empty authority sweep")
      s"""SELECT method, code, CAST(checksum AS BIGINT) AS checksum,
         |  CAST(reason AS VARCHAR) AS reason
         |FROM (VALUES
         |  ${(resolved ++ unresolved).mkString(",\n|  ")}
         |) AS t(method, code, checksum, reason)""".stripMargin
    },
    // ISEA hex occupancy over the fixed 60k lattice: the JVM-direct
    // binner replays the exact lattice (the engine's pmod arithmetic)
    // and the per-hex counts are pinned as VALUES — Snyder's icosahedral
    // forward has no SQL form, but the fixed input makes the output a
    // build constant like q_crs_catalog
    "q_isea_hex" ~> {
      val binner = new graft.geo.cells.HexIndex.IseaBinner(4, 4)
      // Spark's Pmod on doubles returns a % b UNCHANGED when non-negative
      // (only negative remainders get the +b fold) — replaying the naive
      // ((a%b)+b)%b form here would differ by one ulp for positive values
      // and could flip a lattice point across a face/hex boundary
      def pm(a: Double, b: Double) = { val r = a % b; if (r < 0) (r + b) % b else r }
      val occ = scala.collection.mutable.LongMap.empty[Long]
      var i = 0L
      while (i < 60000) {
        val lon = pm(i * 7.1000003, 359.9) - 179.95
        val lat = pm(i * 3.7000007, 169.9) - 84.95
        val id = binner.id(lon, lat)
        if (id != null) occ(id.longValue()) = occ.getOrElse(id.longValue(), 0L) + 1
        i += 1
      }
      val rows = occ.toSeq.sortBy(_._1)
        .map { case (h, n) => s"($h,$n)" }.mkString(",")
      s"""SELECT CAST(hex AS BIGINT) AS hex, CAST(n AS BIGINT) AS n_points
         |FROM (VALUES $rows) AS t(hex, n)""".stripMargin
    },
    "q_vert_offset" ~>
      // constants inlined from vertOracleConsts (same-JVM bit parity);
      // z_hop replays the 2-hop chain step for step ((z-0.06)+0.34),
      // not the collapsed sum — addition order matters at the bit level
      s"""WITH pts AS (
        |  SELECT l_orderkey, l_linenumber,
        |    51.05 + (l_orderkey * 11 + l_linenumber) % 2900 / 1000.0 AS lat,
        |    CAST(l_linenumber * 3 AS DOUBLE) + l_orderkey % 97 / 100.0 AS z
        |  FROM lineitem
        |)
        |SELECT l_orderkey, l_linenumber,
        |  CAST(floor((z + 0.34) * 1e7 + 0.5) AS BIGINT) AS z_auckland_e7,
        |  CAST(floor(((z - 0.06) + 0.34) * 1e7 + 0.5) AS BIGINT) AS z_hop_e7,
        |  CAST(floor((z * ${vertOracleConsts._1}) * 1e7 + 0.5) AS BIGINT)
        |    AS z_ftus_e7,
        |  CAST(floor((z + (0.07 + ${vertOracleConsts._2} *
        |      (lat * (pi()/180) - ${vertOracleConsts._3}))) * 1e7 + 0.5)
        |    AS BIGINT) AS z_evrf_e7
        |FROM pts""".stripMargin
  )
}
