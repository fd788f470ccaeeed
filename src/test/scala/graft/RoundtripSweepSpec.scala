package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.geo.gie.Gie
import graft.geo.proj.ProjString
import graft.geo.geodesic.Geodesic

/** Registry-wide forward-inverse closure sweep: every invertible
  * operation that appears in builtins.gie is probed on a world-wide
  * lon/lat grid; outside a short list of region-local systems (which,
  * like the reference, do not roundtrip at the antipodes of their
  * domain), the worst-case closure must stay under 10 cm.  This guards
  * the long tail of the numeric kernels between fixture points. */
class RoundtripSweepSpec extends AnyFunSuite {

  // systems whose domain is a small region or a non-injective net:
  // out-of-domain roundtrips legitimately diverge (matches reference)
  private val regional = Set(
    "s2", "labrd", "gstmerc", "krovak", "mod_krovak", "alsk", "somerc",
    "gs48", "nzmg", "gs50", "lee_os", "rouss", "oea", "mil_os", "bipc",
    "cass", "col_urban")

  test("worldwide fwd-inv closure <= 10 cm for all non-regional ops") {
    val content = new String(java.nio.file.Files.readAllBytes(
      ReferenceTree.file("test/gie/builtins.gie")), "UTF-8")
    val ops = Gie.parse(content).collect { case Gie.Operation(s, _) => s }
    def nameOf(s: String) = s.split("\\s+")
      .find(_.stripPrefix("+").startsWith("proj="))
      .map(_.stripPrefix("+").drop(5)).getOrElse("?")
    val byName = ops.filterNot(_.contains("pipeline")).groupBy(nameOf)
      .map(_._2.head).toList
    var swept = 0
    val offenders = scala.collection.mutable.ListBuffer.empty[(String, Double)]
    for (s <- byName if !regional.contains(nameOf(s))) {
      try {
        val k = ProjString.parse(s)
        if (k.invertible) {
          val ell = ProjString.ellipsoidOfString(s)
          val geod = new Geodesic(ell.a, ell.f)
          var worst = 0.0
          var tried = 0
          for (lon <- -170 to 170 by 20; lat <- -80 to 80 by 16) {
            val v = Array(math.toRadians(lon + 0.123),
              math.toRadians(lat + 0.071), 0.0, 0.0)
            val v0 = v.clone()
            if (k.fwd(v) && k.inv(v)) {
              tried += 1
              val d = geod.distance(math.toDegrees(v0(1)), math.toDegrees(v0(0)),
                math.toDegrees(v(1)), math.toDegrees(v(0)))
              if (d > worst) worst = d
            }
          }
          if (tried > 0) {
            swept += 1
            if (worst > 0.1) offenders += ((nameOf(s), worst))
          }
        }
      } catch {
        case _: ProjString.Unsupported | _: ProjString.BadProjString => // skip
      }
    }
    info(s"swept $swept invertible operations")
    assert(swept >= 110, s"sweep covered only $swept ops")
    assert(offenders.isEmpty,
      s"closure regressions: ${offenders.sortBy(-_._2).mkString(", ")}")
  }
}
