package graft.geo.geodesic

/** Geodesics on an ellipsoid of revolution — Karney's algorithm at series
  * order 6 (C. F. F. Karney, "Algorithms for geodesics", J. Geodesy 87(1),
  * 2013; the same algorithm PROJ embeds as `geodesic.c`, behavioral
  * reference /root/reference/src/geodesic.c:692-1085).
  *
  * Provides the inverse problem (two points -> distance + fwd/rev azimuth)
  * used as the kNN ranking metric and the gie angular comparison metric,
  * and the direct problem (point + azimuth + distance -> point) used for
  * cell-ring radius expansion.
  *
  * All setup-time series coefficients (A3, C3 — polynomials in the third
  * flattening n) are precomputed in the constructor, so instances serialize
  * into Catalyst expression trees as immutable constants (the setup/apply
  * split of SURVEY.md §1.2).  All angles at the API boundary are degrees.
  */
final class Geodesic(val a: Double, val f: Double) extends Serializable {
  import Geodesic._

  val f1: Double = 1 - f
  val e2: Double = f * (2 - f)
  val ep2: Double = e2 / (f1 * f1)
  val n: Double = f / (2 - f)
  val b: Double = a * f1
  /** authalic radius squared (area support) */
  val c2: Double = {
    val t =
      if (e2 == 0) 1.0
      else (if (e2 > 0) graft.geo.math.ProjMath.atanh(math.sqrt(e2))
            else math.atan(math.sqrt(-e2))) /
        math.sqrt(math.abs(e2))
    (a * a + b * b * t) / 2
  }
  private val etol2: Double =
    0.1 * Tol2 / math.sqrt(math.max(0.001, math.abs(f)) *
      math.min(1.0, 1 - f / 2) / 2)

  // A3 series (Karney 2013 eq. 24): polynomial in eps of order 5 evaluated
  // highest-power-first; each coefficient a polynomial in n.
  private val a3x: Array[Double] = {
    val out = new Array[Double](6)
    out(0) = -3.0 / 128                          // eps^5
    out(1) = (-3 + n * -2) / 64                  // eps^4
    out(2) = (-1 + n * (-3 + n * -1)) / 16       // eps^3
    out(3) = (-2 + n * (-1 + n * 3)) / 8         // eps^2
    out(4) = (-1 + n) / 2                        // eps^1
    out(5) = 1.0                                 // eps^0
    out
  }
  // C3[l] series (Karney 2013 eq. 25): c3p(l-1) holds ascending-power
  // coefficients of eps^l .. eps^5.
  private val c3p: Array[Array[Double]] = Array(
    Array( // C3[1]
      (1 + n * -1) / 4,
      (1 + n * (0 + n * -1)) / 8,
      (3 + n * (3 + n * -1)) / 64,
      (5 + n * 2) / 128,
      3.0 / 128),
    Array( // C3[2]
      (2 + n * (-3 + n * 1)) / 32,
      (3 + n * (-2 + n * -3)) / 64,
      (3 + n * 1) / 128,
      5.0 / 256),
    Array( // C3[3]
      (5 + n * (-9 + n * 5)) / 192,
      (9 + n * -10) / 384,
      7.0 / 512),
    Array( // C3[4]
      (7 + n * -14) / 512,
      7.0 / 512),
    Array( // C3[5]
      21.0 / 2560)
  )

  // C4[l] series for the area integral (Karney 2013 eq. 63-65): 21 packed
  // coefficients, each a rational polynomial in n, highest eps power first
  // per segment (layout mirrors the reference C4x).
  private val c4x: Array[Double] = {
    val coeff = Array[Double](
      97, 15015, 1088, 156, 45045, -224, -4784, 1573, 45045,
      -10656, 14144, -4576, -858, 45045, 64, 624, -4576, 6864, -3003, 15015,
      100, 208, 572, 3432, -12012, 30030, 45045,
      1, 9009, -2944, 468, 135135, 5792, 1040, -1287, 135135,
      5952, -11648, 9152, -2574, 135135, -64, -624, 4576, -6864, 3003, 135135,
      8, 10725, 1856, -936, 225225, -8448, 4992, -1144, 225225,
      -1440, 4160, -4576, 1716, 225225,
      -136, 63063, 1024, -208, 105105, 3584, -3328, 1144, 315315,
      -128, 135135, -2560, 832, 405405,
      128, 99099)
    val out = new Array[Double](21)
    var o = 0; var k = 0
    var l = 0
    while (l < 6) {
      var j = 5
      while (j >= l) {
        val m = 6 - j - 1
        var s = coeff(o)
        var i = 1
        while (i <= m) { s = s * n + coeff(o + i); i += 1 }
        out(k) = s / coeff(o + m + 1)
        k += 1
        o += m + 2
        j -= 1
      }
      l += 1
    }
    out
  }

  /** C4[0..5] at the given eps (each a poly in eps times eps^l). */
  private def c4f(eps: Double, c: Array[Double]): Unit = {
    var mult = 1.0; var o = 0
    var l = 0
    while (l < 6) {
      val m = 6 - l - 1
      var s = c4x(o)
      var i = 1
      while (i <= m) { s = s * eps + c4x(o + i); i += 1 }
      c(l) = mult * s
      o += m + 1
      mult *= eps
      l += 1
    }
  }

  /** Signed area (m^2) swept between the equator and the geodesic edge
    * from point 1 to point 2 — the S12 of geod_geninverse, derived from
    * an already-solved inverse problem's azimuths, so polygonArea runs ONE
    * solve per edge (perimeter + area), not two. */
  private[geodesic] def areaTermFromAzimuths(lat1: Double, lat2: Double,
                                             azi1: Double, azi2: Double): Double = {
    val (salp1, calp1) = sincosd(azi1)
    val (salp2, calp2) = sincosd(azi2)
    def bet(lat: Double): (Double, Double) = {
      val (s0, c0) = sincosd(latFix(lat))
      var sb = f1 * s0; var cb = c0
      val h = math.hypot(sb, cb); sb /= h; cb /= h
      (sb, math.max(Tiny, cb))
    }
    val (sbet1, cbet1) = bet(lat1)
    val (sbet2, cbet2) = bet(lat2)
    val salp0 = salp1 * cbet1
    val calp0 = math.hypot(calp1, salp1 * sbet1)
    var s12a = 0.0
    var ssig1 = sbet1; var csig1 = calp1 * cbet1
    var ssig2 = sbet2; var csig2 = calp2 * cbet2
    val h1 = math.hypot(ssig1, csig1); ssig1 /= h1; csig1 /= h1
    val h2 = math.hypot(ssig2, csig2); ssig2 /= h2; csig2 /= h2
    if (calp0 != 0 && salp0 != 0) {
      val k2 = calp0 * calp0 * ep2
      val eps = k2 / (2 * (1 + math.sqrt(1 + k2)) + k2)
      val a4 = a * a * calp0 * salp0 * e2
      val ca = new Array[Double](6)
      c4f(eps, ca)
      s12a = a4 * (cosSeries(ssig2, csig2, ca, 6) -
        cosSeries(ssig1, csig1, ca, 6))
    }
    // spherical-excess term via longitudes on the auxiliary sphere
    val somg1 = salp0 * ssig1; val comg1 = csig1
    val somg2 = salp0 * ssig2; val comg2 = csig2
    var somg12 = somg2 * comg1 - comg2 * somg1
    var comg12 = comg2 * comg1 + somg2 * somg1
    val hn = math.hypot(somg12, comg12)
    if (hn > 0) { somg12 /= hn; comg12 /= hn }
    val alp12 =
      if (salp0 != 0 && calp0 != 0 &&
          comg12 > -0.7071 && sbet2 - sbet1 < 1.75) {
        // accurate small-polygon form: tan(Gamma/2) composition
        val domg12 = 1 + comg12
        val dbet1 = 1 + cbet1; val dbet2 = 1 + cbet2
        2 * math.atan2(somg12 * (sbet1 * dbet2 + sbet2 * dbet1),
          domg12 * (sbet1 * sbet2 + dbet1 * dbet2))
      } else {
        var salp12 = salp2 * calp1 - calp2 * salp1
        var calp12 = calp2 * calp1 + salp2 * salp1
        if (salp12 == 0 && calp12 < 0) {
          salp12 = Tiny * calp1
          calp12 = -1
        }
        math.atan2(salp12, calp12)
      }
    s12a + c2 * alp12
  }

  /** crossing of the +/-180 meridian between two longitudes (reference
    * transit()) */
  private def transit(lon1: Double, lon2: Double): Int = {
    val (lon12, _) = angDiff(lon1, lon2)
    val l1 = angNormalize(lon1); val l2 = angNormalize(lon2)
    if (lon12 > 0 && ((l1 < 0 && l2 >= 0) || (l1 > 0 && l2 == 0))) 1
    else if (lon12 < 0 && l1 >= 0 && l2 < 0) -1
    else 0
  }

  /** Area + perimeter of the closed polygon with vertices (lat, lon) in
    * degrees.  Counter-clockwise rings are positive; result reduced into
    * (-totalArea/2, totalArea/2] like geod_polygon_compute. */
  def polygonArea(pts: Seq[(Double, Double)]): (Double, Double) = {
    val n = pts.length
    val lats = new Array[Double](n); val lons = new Array[Double](n)
    var i = 0
    while (i < n) { lats(i) = pts(i)._1; lons(i) = pts(i)._2; i += 1 }
    polygonArea(lats, lons, n)
  }

  /** Allocation-free variant over parallel primitive arrays (the hot
    * expression path — no per-vertex boxing). */
  def polygonArea(lats: Array[Double], lons: Array[Double],
                  nPts: Int): (Double, Double) = {
    var area = 0.0; var per = 0.0; var crossings = 0
    var i = 0
    while (i < nPts) {
      val j = if (i + 1 == nPts) 0 else i + 1
      val la1 = lats(i); val lo1 = lons(i)
      val la2 = lats(j); val lo2 = lons(j)
      val r = inverse(la1, lo1, la2, lo2)
      per += r.s12
      area += areaTermFromAzimuths(la1, la2, r.azi1, r.azi2)
      crossings += transit(lo1, lo2)
      i += 1
    }
    val area0 = 4 * math.Pi * c2
    var a2 = Math.IEEEremainder(area, area0)
    if ((crossings & 1) != 0) a2 += (if (a2 < 0) 1 else -1) * area0 / 2
    a2 *= -1 // counter-clockwise positive
    if (a2 > area0 / 2) a2 -= area0
    else if (a2 <= -area0 / 2) a2 += area0
    (a2, per)
  }

  private[geodesic] def a3f(eps: Double): Double = polyval(a3x, eps)

  /** C3[l] for l=1..5 into c(1..5) given eps. */
  private[geodesic] def c3f(eps: Double, c: Array[Double]): Unit = {
    var l = 1
    var mult = 1.0
    while (l <= 5) {
      mult *= eps
      // ascending-power evaluation of c3p(l-1) at eps, times eps^l
      val p = c3p(l - 1)
      var s = 0.0
      var k = p.length - 1
      while (k >= 0) { s = s * eps + p(k); k -= 1 }
      c(l) = mult * s
      l += 1
    }
  }

  /** Solve the inverse problem.  Returns (s12 metres, azi1 deg, azi2 deg,
    * a12 arc degrees). */
  def inverse(lat1In: Double, lon1: Double, lat2In: Double, lon2: Double): GeodInverse = {
    var lon12 = 0.0; var lon12s = 0.0
    // careful longitude difference
    val (d0, e0) = angDiff(lon1, lon2)
    lon12 = d0; lon12s = e0
    var lonsign = if (lon12 < 0 || (lon12 == 0 && 1 / lon12 < 0)) -1.0 else 1.0
    lon12 *= lonsign; lon12s *= lonsign
    val lam12 = lon12 * DegToRad
    val (slam12v, clam12v) = sincosde(lon12, lon12s)
    var slam12 = slam12v; val clam12 = clam12v
    lon12s = (180.0 - lon12) - lon12s

    var lat1 = angRound(latFix(lat1In))
    var lat2 = angRound(latFix(lat2In))
    var swapp = if (math.abs(lat1) < math.abs(lat2) || lat2 != lat2) -1.0 else 1.0
    if (swapp < 0) {
      lonsign *= -1
      val t = lat1; lat1 = lat2; lat2 = t
    }
    val latsign = if (lat1 < 0 || (lat1 == 0 && 1 / lat1 < 0)) 1.0 else -1.0
    lat1 *= latsign; lat2 *= latsign

    var sbet1 = 0.0; var cbet1 = 0.0; var sbet2 = 0.0; var cbet2 = 0.0
    locally {
      val (s, c) = sincosd(lat1); sbet1 = s * f1; cbet1 = c
      val h = math.hypot(sbet1, cbet1); sbet1 /= h; cbet1 /= h
      cbet1 = math.max(Tiny, cbet1)
    }
    locally {
      val (s, c) = sincosd(lat2); sbet2 = s * f1; cbet2 = c
      val h = math.hypot(sbet2, cbet2); sbet2 /= h; cbet2 /= h
      cbet2 = math.max(Tiny, cbet2)
    }
    // enforce symmetry when |bet2| == -bet1 (sensitive cancellations)
    if (cbet1 < -sbet1) { if (cbet2 == cbet1) sbet2 = math.copySign(sbet1, sbet2) }
    else { if (math.abs(sbet2) == -sbet1) cbet2 = cbet1 }

    val dn1 = math.sqrt(1 + ep2 * sbet1 * sbet1)
    val dn2 = math.sqrt(1 + ep2 * sbet2 * sbet2)

    var s12x = 0.0; var m12x = 0.0
    var sig12 = 0.0; var a12 = 0.0
    var salp1 = 0.0; var calp1 = 0.0; var salp2 = 0.0; var calp2 = 0.0
    val Ca = new Array[Double](7)
    var meridian = lat1 == -90 || slam12 == 0

    if (meridian) {
      calp1 = clam12; salp1 = slam12
      calp2 = 1; salp2 = 0
      val ssig1 = sbet1; val csig1 = calp1 * cbet1
      val ssig2 = sbet2; val csig2 = calp2 * cbet2
      sig12 = math.atan2(math.max(0.0, csig1 * ssig2 - ssig1 * csig2),
        csig1 * csig2 + ssig1 * ssig2)
      val L = lengths(this.n, sig12, ssig1, csig1, dn1, ssig2, csig2, dn2,
        cbet1, cbet2, wantS12 = true, wantM12 = true, Ca)
      s12x = L.s12b; m12x = L.m12b
      if (sig12 < Tol2 || m12x >= 0) {
        if (sig12 < 3 * Tiny ||
            (sig12 < Tol0 && (s12x < 0 || m12x < 0))) {
          sig12 = 0; m12x = 0; s12x = 0
        }
        m12x *= b
        s12x *= b
        a12 = sig12 * RadToDeg
      } else meridian = false
    }

    if (!meridian && sbet1 == 0 && (f <= 0 || lon12s >= f * 180)) {
      // equatorial line
      calp1 = 0; calp2 = 0; salp1 = 1; salp2 = 1
      s12x = a * lam12
      sig12 = lam12 / f1
      m12x = b * math.sin(sig12)
      a12 = lon12 / f1
    } else if (!meridian) {
      // general case: Newton's method on alp1
      val start = inverseStart(sbet1, cbet1, dn1, sbet2, cbet2, dn2,
        lam12, slam12, clam12, Ca)
      sig12 = start.sig12
      salp1 = start.salp1; calp1 = start.calp1
      if (sig12 >= 0) {
        // short line: spherical solution is good enough
        salp2 = start.salp2; calp2 = start.calp2
        val dnm = start.dnm
        s12x = sig12 * b * dnm
        m12x = dnm * dnm * b * math.sin(sig12 / dnm)
        a12 = sig12 * RadToDeg
      } else {
        var ssig1 = 0.0; var csig1 = 0.0; var ssig2 = 0.0; var csig2 = 0.0
        var eps = 0.0
        var numit = 0
        var salp1a = Tiny; var calp1a = 1.0
        var salp1b = Tiny; var calp1b = -1.0
        var tripn = false; var tripb = false
        var break = false
        while (!break) {
          val L = lambda12(sbet1, cbet1, dn1, sbet2, cbet2, dn2,
            salp1, calp1, slam12, clam12, diffp = numit < MaxIt1, Ca)
          val v = L.lam12
          salp2 = L.salp2; calp2 = L.calp2
          sig12 = L.sig12
          ssig1 = L.ssig1; csig1 = L.csig1; ssig2 = L.ssig2; csig2 = L.csig2
          eps = L.eps
          if (tripb || !(math.abs(v) >= (if (tripn) 8 else 1) * Tol0) ||
              numit == MaxIt2) {
            break = true
          } else {
            if (v > 0 && (numit > MaxIt1 || calp1 / salp1 > calp1b / salp1b)) {
              salp1b = salp1; calp1b = calp1
            } else if (v < 0 && (numit > MaxIt1 || calp1 / salp1 < calp1a / salp1a)) {
              salp1a = salp1; calp1a = calp1
            }
            var stepped = false
            if (numit < MaxIt1 && L.dlam12 > 0) {
              val dalp1 = -v / L.dlam12
              if (math.abs(dalp1) < math.Pi) {
                val sd = math.sin(dalp1); val cd = math.cos(dalp1)
                val nsalp1 = salp1 * cd + calp1 * sd
                if (nsalp1 > 0) {
                  calp1 = calp1 * cd - salp1 * sd
                  salp1 = nsalp1
                  val h = math.hypot(salp1, calp1); salp1 /= h; calp1 /= h
                  tripn = math.abs(v) <= 16 * Tol0
                  stepped = true
                }
              }
            }
            if (!stepped) {
              salp1 = (salp1a + salp1b) / 2
              calp1 = (calp1a + calp1b) / 2
              val h = math.hypot(salp1, calp1); salp1 /= h; calp1 /= h
              tripn = false
              tripb = math.abs(salp1a - salp1) + (calp1a - calp1) < TolB ||
                math.abs(salp1 - salp1b) + (calp1 - calp1b) < TolB
            }
            numit += 1
          }
        }
        val L2 = lengths(eps, sig12, ssig1, csig1, dn1, ssig2, csig2, dn2,
          cbet1, cbet2, wantS12 = true, wantM12 = true, Ca)
        s12x = L2.s12b * b
        m12x = L2.m12b * b
        a12 = sig12 * RadToDeg
      }
    }

    val s12 = 0 + s12x
    // undo the canonicalization for the azimuths
    if (swapp < 0) {
      var t = salp1; salp1 = salp2; salp2 = t
      t = calp1; calp1 = calp2; calp2 = t
    }
    salp1 *= swapp * lonsign; calp1 *= swapp * latsign
    salp2 *= swapp * lonsign; calp2 *= swapp * latsign
    GeodInverse(s12, atan2d(salp1, calp1), atan2d(salp2, calp2), a12)
  }

  /** Distance only (metres). */
  def distance(lat1: Double, lon1: Double, lat2: Double, lon2: Double): Double =
    inverse(lat1, lon1, lat2, lon2).s12

  /** Precompute a geodesic line from a point along an azimuth —
    * `geod_lineinit` (reference src/geodesic.c:419-459). */
  def line(lat1: Double, lon1: Double, azi1: Double): GeodesicLine =
    new GeodesicLine(this, lat1, lon1, azi1, Double.NaN)

  /** The geodesic line through two points, with the endpoint distance
    * registered as `s13` — `geod_inverseline` (src/geodesic.c:509). */
  def inverseLine(lat1: Double, lon1: Double, lat2: Double, lon2: Double): GeodesicLine = {
    val inv = inverse(lat1, lon1, lat2, lon2)
    new GeodesicLine(this, lat1, lon1, inv.azi1, inv.s12)
  }

  /** Solve the direct problem: start point + azimuth (deg) + distance (m)
    * -> (lat2, lon2, azi2). */
  def direct(lat1In: Double, lon1: Double, azi1In: Double, s12: Double): GeodDirect = {
    val f = directScale(lat1In, lon1, azi1In, s12)
    GeodDirect(f.lat2, f.lon2, f.azi2, f.a12)
  }

  /** Direct problem with reduced length m12 and geodesic scales M12/M21
    * (the GeographicLib REDUCEDLENGTH | GEODESICSCALE outputs) — needed
    * by the ellipsoidal gnomonic projection.
    *
    * NOTE: this is a deliberate allocation-free specialization of the
    * [[GeodesicLine]] init+position pair (the reference implements direct
    * via the line, but this runs per POINT in the aeqd/gnom kernels where
    * a per-call line object would be pure GC pressure).  The two share
    * the same series math — a fix to either must be mirrored; both are
    * pinned by GeodesicSpec's Vincenty/ODE cross-checks and the
    * waypoints codegen-vs-JVM equality test. */
  def directScale(lat1In: Double, lon1: Double, azi1In: Double, s12: Double): GeodDirectFull = {
    val lat1 = latFix(lat1In)
    val azi1 = angNormalize(azi1In)
    val (salp1, calp1) = sincosd(angRound(azi1))

    var sbet1 = 0.0; var cbet1 = 0.0
    locally {
      val (s, c) = sincosd(angRound(lat1)); sbet1 = s * f1; cbet1 = c
      val h = math.hypot(sbet1, cbet1); sbet1 /= h; cbet1 /= h
      cbet1 = math.max(Tiny, cbet1)
    }
    val dn1 = math.sqrt(1 + ep2 * sbet1 * sbet1)
    val salp0 = salp1 * cbet1
    val calp0 = math.hypot(calp1, salp1 * sbet1)
    var ssig1 = sbet1; val somg1 = salp0 * sbet1
    var csig1 = if (sbet1 != 0 || calp1 != 0) cbet1 * calp1 else 1.0
    val comg1 = csig1
    locally { val h = math.hypot(ssig1, csig1); ssig1 /= h; csig1 /= h }
    val k2 = calp0 * calp0 * ep2
    val eps = k2 / (2 * (1 + math.sqrt(1 + k2)) + k2)

    val A1m1 = a1m1f(eps)
    val C1a = new Array[Double](7); c1f(eps, C1a)
    val B11 = sinCosSeriesSin(ssig1, csig1, C1a, 6)
    val sB = math.sin(B11); val cB = math.cos(B11)
    val stau1 = ssig1 * cB + csig1 * sB
    val ctau1 = csig1 * cB - ssig1 * sB
    val C1pa = new Array[Double](7); c1pf(eps, C1pa)
    val C3a = new Array[Double](6); c3f(eps, C3a)
    val A3c = -f * salp0 * a3f(eps)
    val B31 = sinCosSeriesSin(ssig1, csig1, C3a, 5)

    // distance -> sigma via the reverted series, plus one Newton step for
    // very eccentric ellipsoids
    val tau12 = s12 / (b * (1 + A1m1))
    val st = math.sin(tau12); val ct = math.cos(tau12)
    var B12 = -sinCosSeriesSin(stau1 * ct + ctau1 * st,
      ctau1 * ct - stau1 * st, C1pa, 6)
    var sig12 = tau12 - (B12 - B11)
    var ssig12 = math.sin(sig12); var csig12 = math.cos(sig12)
    if (math.abs(f) > 0.01) {
      var ssig2 = ssig1 * csig12 + csig1 * ssig12
      var csig2 = csig1 * csig12 - ssig1 * ssig12
      B12 = sinCosSeriesSin(ssig2, csig2, C1a, 6)
      val serr = (1 + A1m1) * (sig12 + (B12 - B11)) - s12 / b
      sig12 = sig12 - serr / math.sqrt(1 + k2 * ssig2 * ssig2)
      ssig12 = math.sin(sig12); csig12 = math.cos(sig12)
    }

    val ssig2 = ssig1 * csig12 + csig1 * ssig12
    var csig2 = csig1 * csig12 - ssig1 * ssig12
    val sbet2 = calp0 * ssig2
    var cbet2 = math.hypot(salp0, calp0 * csig2)
    if (cbet2 == 0) { cbet2 = Tiny; csig2 = Tiny }
    val salp2 = salp0; val calp2 = calp0 * csig2

    val somg2 = salp0 * ssig2; val comg2 = csig2
    val omg12 = math.atan2(somg2 * comg1 - comg2 * somg1,
      comg2 * comg1 + somg2 * somg1)
    val lam12 = omg12 + A3c *
      (sig12 + (sinCosSeriesSin(ssig2, csig2, C3a, 5) - B31))
    val lon12 = lam12 * RadToDeg
    val lon2 = angNormalize(angNormalize(lon1) + angNormalize(lon12))
    val lat2 = atan2d(sbet2, f1 * cbet2)
    val azi2 = atan2d(salp2, calp2)

    // reduced length + geodesic scale (GeographicLib Direct with
    // REDUCEDLENGTH|GEODESICSCALE)
    val dn2 = math.sqrt(1 + ep2 * sbet2 * sbet2)
    val A2m1 = a2m1f(eps)
    val C2a = new Array[Double](7); c2f(eps, C2a)
    val B21 = sinCosSeriesSin(ssig1, csig1, C2a, 6)
    val B22 = sinCosSeriesSin(ssig2, csig2, C2a, 6)
    val B12f = sinCosSeriesSin(ssig2, csig2, C1a, 6)
    val AB1 = (1 + A1m1) * (B12f - B11)
    val AB2 = (1 + A2m1) * (B22 - B21)
    val J12 = (A1m1 - A2m1) * sig12 + (AB1 - AB2)
    val m12 = b * ((dn2 * (csig1 * ssig2) - dn1 * (ssig1 * csig2)) -
      csig1 * csig2 * J12)
    val tS = k2 * (ssig2 - ssig1) * (ssig2 + ssig1) / (dn1 + dn2)
    val M12 = csig12 + (tS * ssig2 - csig2 * J12) * ssig1 / dn1
    val M21 = csig12 - (tS * ssig1 - csig1 * J12) * ssig2 / dn2
    GeodDirectFull(lat2, lon2, azi2, sig12 * RadToDeg, m12, M12, M21)
  }

  // --- internal pieces ------------------------------------------------------

  private final case class Lengths(s12b: Double, m12b: Double, m0: Double)

  private def lengths(eps: Double, sig12: Double,
                      ssig1: Double, csig1: Double, dn1: Double,
                      ssig2: Double, csig2: Double, dn2: Double,
                      cbet1: Double, cbet2: Double,
                      wantS12: Boolean, wantM12: Boolean,
                      Ca: Array[Double]): Lengths = {
    var m0 = 0.0; var J12 = 0.0; var A1 = 0.0; var A2 = 0.0
    val Cb = new Array[Double](7)
    var s12b = 0.0; var m12b = 0.0
    A1 = a1m1f(eps); c1f(eps, Ca)
    if (wantM12) {
      A2 = a2m1f(eps); c2f(eps, Cb)
      m0 = A1 - A2
      A2 = 1 + A2
    }
    A1 = 1 + A1
    if (wantS12) {
      val B1 = sinCosSeriesSin(ssig2, csig2, Ca, 6) -
        sinCosSeriesSin(ssig1, csig1, Ca, 6)
      s12b = A1 * (sig12 + B1)
      if (wantM12) {
        val B2 = sinCosSeriesSin(ssig2, csig2, Cb, 6) -
          sinCosSeriesSin(ssig1, csig1, Cb, 6)
        J12 = m0 * sig12 + (A1 * B1 - A2 * B2)
      }
    } else if (wantM12) {
      var l = 1
      while (l <= 6) { Cb(l) = A1 * Ca(l) - A2 * Cb(l); l += 1 }
      J12 = m0 * sig12 + (sinCosSeriesSin(ssig2, csig2, Cb, 6) -
        sinCosSeriesSin(ssig1, csig1, Cb, 6))
    }
    if (wantM12) {
      m12b = dn2 * (csig1 * ssig2) - dn1 * (ssig1 * csig2) -
        csig1 * csig2 * J12
    }
    Lengths(s12b, m12b, m0)
  }

  private final case class Start(sig12: Double, salp1: Double, calp1: Double,
                                 salp2: Double, calp2: Double, dnm: Double)

  private def inverseStart(sbet1: Double, cbet1: Double, dn1: Double,
                           sbet2: Double, cbet2: Double, dn2: Double,
                           lam12: Double, slam12: Double, clam12: Double,
                           Ca: Array[Double]): Start = {
    var sig12 = -1.0
    var salp1 = 0.0; var calp1 = 0.0; var salp2 = 0.0; var calp2 = 0.0
    var dnm = 0.0
    val sbet12 = sbet2 * cbet1 - cbet2 * sbet1
    val cbet12 = cbet2 * cbet1 + sbet2 * sbet1
    val sbet12a = sbet2 * cbet1 + cbet2 * sbet1
    val shortline = cbet12 >= 0 && sbet12 < 0.5 && cbet2 * lam12 < 0.5
    var somg12 = 0.0; var comg12 = 0.0
    if (shortline) {
      var sbetm2 = (sbet1 + sbet2) * (sbet1 + sbet2)
      sbetm2 /= sbetm2 + (cbet1 + cbet2) * (cbet1 + cbet2)
      dnm = math.sqrt(1 + ep2 * sbetm2)
      val omg12 = lam12 / (f1 * dnm)
      somg12 = math.sin(omg12); comg12 = math.cos(omg12)
    } else { somg12 = slam12; comg12 = clam12 }

    salp1 = cbet2 * somg12
    calp1 =
      if (comg12 >= 0) sbet12 + cbet2 * sbet1 * somg12 * somg12 / (1 + comg12)
      else sbet12a - cbet2 * sbet1 * somg12 * somg12 / (1 - comg12)

    val ssig12 = math.hypot(salp1, calp1)
    val csig12 = sbet1 * sbet2 + cbet1 * cbet2 * comg12

    if (shortline && ssig12 < etol2) {
      salp2 = cbet1 * somg12
      calp2 = sbet12 - cbet1 * sbet2 *
        (if (comg12 >= 0) somg12 * somg12 / (1 + comg12) else 1 - comg12)
      val h = math.hypot(salp2, calp2); salp2 /= h; calp2 /= h
      sig12 = math.atan2(ssig12, csig12)
    } else if (math.abs(n) > 0.1 || csig12 >= 0 ||
               ssig12 >= 6 * math.abs(n) * math.Pi * cbet1 * cbet1) {
      // zeroth-order spherical start is fine
    } else {
      // near-antipodal: solve the astroid problem for a start
      var x = 0.0; var y = 0.0; var lamscale = 0.0; var betscale = 0.0
      val lam12x = math.atan2(-slam12, -clam12)
      if (f >= 0) {
        val k2 = sbet1 * sbet1 * ep2
        val eps = k2 / (2 * (1 + math.sqrt(1 + k2)) + k2)
        lamscale = f * cbet1 * a3f(eps) * math.Pi
        betscale = lamscale * cbet1
        x = lam12x / lamscale
        y = sbet12a / betscale
      } else {
        val cbet12a = cbet2 * cbet1 - sbet2 * sbet1
        val bet12a = math.atan2(sbet12a, cbet12a)
        val L = lengths(n, math.Pi + bet12a, sbet1, -cbet1, dn1,
          sbet2, cbet2, dn2, cbet1, cbet2, wantS12 = false, wantM12 = true, Ca)
        x = -1 + L.m12b / (cbet1 * cbet2 * L.m0 * math.Pi)
        betscale = if (x < -0.01) sbet12a / x else -f * cbet1 * cbet1 * math.Pi
        lamscale = betscale / cbet1
        y = lam12x / lamscale
      }
      if (y > -Tol1 && x > -1 - XThresh) {
        if (f >= 0) {
          salp1 = math.min(1.0, -x); calp1 = -math.sqrt(1 - salp1 * salp1)
        } else {
          calp1 = math.max(if (x > -Tol1) 0.0 else -1.0, x)
          salp1 = math.sqrt(1 - calp1 * calp1)
        }
      } else {
        val k = astroid(x, y)
        val omg12a = lamscale *
          (if (f >= 0) -x * k / (1 + k) else -y * (1 + k) / k)
        somg12 = math.sin(omg12a); comg12 = -math.cos(omg12a)
        salp1 = cbet2 * somg12
        calp1 = sbet12a - cbet2 * sbet1 * somg12 * somg12 / (1 - comg12)
      }
    }
    if (!(salp1 <= 0)) {
      val h = math.hypot(salp1, calp1); salp1 /= h; calp1 /= h
    } else { salp1 = 1; calp1 = 0 }
    Start(sig12, salp1, calp1, salp2, calp2, dnm)
  }

  private final case class L12(lam12: Double, salp2: Double, calp2: Double,
                               sig12: Double, ssig1: Double, csig1: Double,
                               ssig2: Double, csig2: Double, eps: Double,
                               domg12: Double, dlam12: Double)

  private def lambda12(sbet1: Double, cbet1: Double, dn1: Double,
                       sbet2: Double, cbet2: Double, dn2: Double,
                       salp1In: Double, calp1In: Double,
                       slam120: Double, clam120: Double,
                       diffp: Boolean, Ca: Array[Double]): L12 = {
    var salp1 = salp1In; var calp1 = calp1In
    if (sbet1 == 0 && calp1 == 0) calp1 = -Tiny

    val salp0 = salp1 * cbet1
    val calp0 = math.hypot(calp1, salp1 * sbet1)

    var ssig1 = sbet1; val somg1 = salp0 * sbet1
    var csig1 = calp1 * cbet1
    val comg1 = csig1
    locally { val h = math.hypot(ssig1, csig1); ssig1 /= h; csig1 /= h }

    val salp2 = if (cbet2 != cbet1) salp0 / cbet2 else salp1
    val calp2 =
      if (cbet2 != cbet1 || math.abs(sbet2) != -sbet1)
        math.sqrt((calp1 * cbet1) * (calp1 * cbet1) +
          (if (cbet1 < -sbet1) (cbet2 - cbet1) * (cbet1 + cbet2)
           else (sbet1 - sbet2) * (sbet1 + sbet2))) / cbet2
      else math.abs(calp1)

    var ssig2 = sbet2; val somg2 = salp0 * sbet2
    var csig2 = calp2 * cbet2
    val comg2 = csig2
    locally { val h = math.hypot(ssig2, csig2); ssig2 /= h; csig2 /= h }

    val sig12 = math.atan2(math.max(0.0, csig1 * ssig2 - ssig1 * csig2),
      csig1 * csig2 + ssig1 * ssig2)
    val somg12 = math.max(0.0, comg1 * somg2 - somg1 * comg2)
    val comg12 = comg1 * comg2 + somg1 * somg2
    val eta = math.atan2(somg12 * clam120 - comg12 * slam120,
      comg12 * clam120 + somg12 * slam120)
    val k2 = calp0 * calp0 * ep2
    val eps = k2 / (2 * (1 + math.sqrt(1 + k2)) + k2)
    val C3a = new Array[Double](6); c3f(eps, C3a)
    val B312 = sinCosSeriesSin(ssig2, csig2, C3a, 5) -
      sinCosSeriesSin(ssig1, csig1, C3a, 5)
    val domg12 = -f * a3f(eps) * salp0 * (sig12 + B312)
    val lam12 = eta + domg12

    var dlam12 = 0.0
    if (diffp) {
      if (calp2 == 0) dlam12 = -2 * f1 * dn1 / sbet1
      else {
        val L = lengths(eps, sig12, ssig1, csig1, dn1, ssig2, csig2, dn2,
          cbet1, cbet2, wantS12 = false, wantM12 = true, Ca)
        dlam12 = L.m12b * f1 / (calp2 * cbet2)
      }
    }
    L12(lam12, salp2, calp2, sig12, ssig1, csig1, ssig2, csig2, eps,
      domg12, dlam12)
  }
}

final case class GeodInverse(s12: Double, azi1: Double, azi2: Double, a12: Double)
final case class GeodDirect(lat2: Double, lon2: Double, azi2: Double, a12: Double)
final case class GeodDirectFull(lat2: Double, lon2: Double, azi2: Double,
                                a12: Double, m12: Double, M12: Double,
                                M21: Double)

object Geodesic {
  val WGS84 = new Geodesic(6378137.0, 1.0 / 298.257223563)
  val GRS80 = new Geodesic(6378137.0, 1.0 / 298.257222101)

  // numeric guards (Karney's tiny/tolerance ladder)
  private[geodesic] val Tiny = math.sqrt(java.lang.Double.MIN_NORMAL)
  private[geodesic] val Tol0 = math.ulp(1.0)
  private[geodesic] val Tol1 = 200 * Tol0
  private[geodesic] val Tol2 = math.sqrt(Tol0)
  private[geodesic] val TolB = Tol0
  private[geodesic] val XThresh = 1000 * Tol2
  private[geodesic] val MaxIt1 = 20
  private[geodesic] val MaxIt2 = MaxIt1 + 53 + 10
  private[geodesic] val DegToRad = math.Pi / 180
  private[geodesic] val RadToDeg = 180 / math.Pi

  /** ascending-power Horner over the full array */
  private[geodesic] def polyval(p: Array[Double], x: Double): Double = {
    // p is stored lowest-order-last (a3x layout): evaluate as given order
    var s = p(0)
    var i = 1
    while (i < p.length) { s = s * x + p(i); i += 1 }
    s
  }

  /** (1-eps) * (A1-1), order-6. */
  private[geodesic] def a1m1f(eps: Double): Double = {
    val x = eps * eps
    val t = (x * (x * (x + 4) + 64)) / 256
    (t + eps) / (1 - eps)
  }

  /** (1+eps) * (A2-1), order-6. */
  private[geodesic] def a2m1f(eps: Double): Double = {
    val x = eps * eps
    val t = (x * (x * (-11 * x - 28) - 192)) / 256
    (t - eps) / (1 + eps)
  }

  /** C1 coefficients (c(1..6)). */
  private[geodesic] def c1f(eps: Double, c: Array[Double]): Unit = {
    val x = eps * eps
    var d = eps
    c(1) = d * (x * (6 - x) - 16) / 32; d *= eps
    c(2) = d * (x * (64 - 9 * x) - 128) / 2048; d *= eps
    c(3) = d * (9 * x - 16) / 768; d *= eps
    c(4) = d * (3 * x - 5) / 512; d *= eps
    c(5) = d * -7 / 1280; d *= eps
    c(6) = d * -7 / 2048
  }

  /** C1' coefficients (reverted series, c(1..6)). */
  private[geodesic] def c1pf(eps: Double, c: Array[Double]): Unit = {
    val x = eps * eps
    var d = eps
    c(1) = d * (x * (205 * x - 432) + 768) / 1536; d *= eps
    c(2) = d * (x * (4005 * x - 4736) + 3840) / 12288; d *= eps
    c(3) = d * (116 - 225 * x) / 384; d *= eps
    c(4) = d * (2695 - 7173 * x) / 7680; d *= eps
    c(5) = d * 3467 / 7680; d *= eps
    c(6) = d * 38081 / 61440
  }

  /** C2 coefficients (c(1..6)). */
  private[geodesic] def c2f(eps: Double, c: Array[Double]): Unit = {
    val x = eps * eps
    var d = eps
    c(1) = d * (x * (x + 2) + 16) / 32; d *= eps
    c(2) = d * (x * (35 * x + 64) + 384) / 2048; d *= eps
    c(3) = d * (15 * x + 80) / 768; d *= eps
    c(4) = d * (7 * x + 35) / 512; d *= eps
    c(5) = d * 63 / 1280; d *= eps
    c(6) = d * 77 / 2048
  }

  /** Clenshaw sum of c(i) cos((2i+1) x), i=0..n-1 (reference
    * SinCosSeries with sinp = FALSE). */
  private[geodesic] def cosSeries(sinx: Double, cosx: Double,
                                  c: Array[Double], n: Int): Double = {
    val ar = 2 * (cosx - sinx) * (cosx + sinx)
    var k = n
    var y0 = if ((n & 1) != 0) { k -= 1; c(k) } else 0.0
    var y1 = 0.0
    var m = n / 2
    while (m > 0) {
      k -= 1; y1 = ar * y0 - y1 + c(k)
      k -= 1; y0 = ar * y1 - y0 + c(k)
      m -= 1
    }
    cosx * (y0 - y1)
  }

  /** Clenshaw sum of c(i) sin(2 i x), i=1..n, given sin x / cos x. */
  private[geodesic] def sinCosSeriesSin(sinx: Double, cosx: Double,
                                        c: Array[Double], n: Int): Double = {
    val ar = 2 * (cosx - sinx) * (cosx + sinx)
    var k = n + 1
    var y0 = if ((n & 1) != 0) { k -= 1; c(k) } else 0.0
    var y1 = 0.0
    var m = n / 2
    while (m > 0) {
      k -= 1; y1 = ar * y0 - y1 + c(k)
      k -= 1; y0 = ar * y1 - y0 + c(k)
      m -= 1
    }
    2 * sinx * cosx * y0
  }

  /** positive root k of k^4 + 2k^3 - (x^2+y^2-1)k^2 - 2y^2 k - y^2 = 0. */
  private[geodesic] def astroid(x: Double, y: Double): Double = {
    val p = x * x
    val q = y * y
    val r = (p + q - 1) / 6
    if (!(q == 0 && r <= 0)) {
      val s = p * q / 4
      val r2 = r * r
      val r3 = r * r2
      val disc = s * (s + 2 * r3)
      var u = r
      if (disc >= 0) {
        var t3 = s + r3
        t3 += (if (t3 < 0) -math.sqrt(disc) else math.sqrt(disc))
        val t = math.cbrt(t3)
        u += t + (if (t != 0) r2 / t else 0.0)
      } else {
        val ang = math.atan2(math.sqrt(-disc), -(s + r3))
        u += 2 * r * math.cos(ang / 3)
      }
      val v = math.sqrt(u * u + q)
      val uv = if (u < 0) q / (v - u) else u + v
      val w = (uv - q) / (2 * v)
      uv / (math.sqrt(uv + w * w) + w)
    } else 0.0
  }

  // --- careful degree trigonometry -----------------------------------------

  private[geodesic] def latFix(x: Double): Double =
    if (math.abs(x) > 90) Double.NaN else x

  private[geodesic] def angNormalize(x: Double): Double = {
    val y = Math.IEEEremainder(x, 360.0)
    if (math.abs(y) == 180) math.copySign(180.0, x) else y
  }

  private[geodesic] def angRound(x: Double): Double = {
    val z = 1.0 / 16
    var y = math.abs(x)
    if (y < z) y = z - (z - y)
    math.copySign(y, x)
  }

  /** two-sum: returns (s, err) with s = u + v exactly + err */
  private[geodesic] def sum(u: Double, v: Double): (Double, Double) = {
    val s = u + v
    var up = s - v
    var vpp = s - up
    up -= u
    vpp -= v
    (s, if (s != 0) 0.0 - (up + vpp) else s)
  }

  /** carefully computed y - x in [-180, 180] with error term */
  private[geodesic] def angDiff(x: Double, y: Double): (Double, Double) = {
    val (d0, t) = sum(Math.IEEEremainder(-x, 360.0), Math.IEEEremainder(y, 360.0))
    val (d, e) = sum(Math.IEEEremainder(d0, 360.0), t)
    if (d == 0 || math.abs(d) == 180)
      (math.copySign(d, if (e == 0) y - x else -e), e)
    else (d, e)
  }

  /** sin/cos of x degrees with exact quadrant symmetry */
  private[geodesic] def sincosd(x: Double): (Double, Double) = sincosde(x, 0.0)

  private[geodesic] def sincosde(x: Double, t: Double): (Double, Double) = {
    val r0 = Math.IEEEremainder(x, 90.0)
    val q = (math.round((x - r0) / 90.0) % 4 + 4) % 4
    val r = angRound(r0 + t) * (math.Pi / 180)
    val s = math.sin(r); val c = math.cos(r)
    val (sx, cx) = q match {
      case 0 => (s, c)
      case 1 => (c, -s)
      case 2 => (-s, -c)
      case _ => (-c, s)
    }
    (if (sx == 0) math.copySign(sx, x) else sx, cx + 0.0)
  }

  /** atan2 in degrees with exact quadrant symmetry */
  private[geodesic] def atan2d(yIn: Double, xIn: Double): Double = {
    var x = xIn; var y = yIn
    var q = 0
    if (math.abs(y) > math.abs(x)) { val t = x; x = y; y = t; q = 2 }
    if (x < 0 || (x == 0 && 1 / x < 0)) { x = -x; q += 1 }
    var ang = math.atan2(y, x) * (180 / math.Pi)
    q match {
      case 1 => ang = math.copySign(180.0, y) - ang
      case 2 => ang = 90 - ang
      case 3 => ang = -90 + ang
      case _ =>
    }
    ang
  }
}
