package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import graft.geo.grids.Grids
import graft.geo.proj.{AuthorityDb, ProjString}
import graft.geo.proj.ProjString.AssetMissing

/** The asset-file contract: an absent grid or model file is one error,
  * [[AssetMissing]] naming the file, whichever operator asks for it; a
  * present but malformed file is a [[ProjString.BadProjString]]; an
  * optional (`@`) grid is skipped either way.  Every name here is fresh,
  * so no search path can hold it. */
class AssetMissingSpec extends AnyFunSuite {

  private def fresh(ext: String) = s"graft_absent_${System.nanoTime()}.$ext"

  private val operators: Seq[(String, String => String)] = Seq(
    "gsb" -> (f => s"+proj=hgridshift +grids=$f"),
    "gtx" -> (f => s"+proj=vgridshift +grids=$f"),
    "tif" -> (f => s"+proj=gridshift +grids=$f"),
    "tif" -> (f => s"+proj=deformation +grids=$f +dt=1 +ellps=GRS80"),
    "tif" -> (f => s"+proj=xyzgridshift +grids=$f +ellps=GRS80"),
    "json" -> (f => s"+proj=tinshift +file=$f"),
    "json" -> (f => s"+proj=defmodel +model=$f"),
    "gsb" -> (f => s"+proj=longlat +ellps=GRS80 +nadgrids=$f"))

  test("every operator reports an absent file as AssetMissing naming it") {
    for ((ext, ps) <- operators) {
      val f = fresh(ext)
      val e = intercept[AssetMissing](ProjString.parse(ps(f)))
      assert(e.file == f, ps(f))
      assert(e.getMessage == s"unsupported: grid $f", ps(f))
      assert(e.searched == Grids.searchDirs && e.detail.contains("searched"), ps(f))
    }
  }

  test("an absent optional grid is skipped") {
    val f = fresh("gsb")
    assert(Grids.hgridSets(s"@$f,${GridFixtures.Hgrid.name}").size == 1)
    ProjString.parse(s"+proj=longlat +ellps=GRS80 +nadgrids=@$f")
  }

  test("a malformed grid is a BadProjString, not AssetMissing; optional, it is skipped") {
    val dir = Files.createTempDirectory("graft-garbage-grid")
    val f = fresh("gsb")
    val path = Files.write(dir.resolve(f), Array.tabulate[Byte](512)(i => (i * 37 + 11).toByte))
    dir.toFile.deleteOnExit(); path.toFile.deleteOnExit()
    Grids.addSearchDir(dir.toString)
    // a BadProjString is never an Unsupported, so never an AssetMissing
    intercept[Grids.BadGrid](ProjString.parse(s"+proj=hgridshift +grids=$f"))
    assert(Grids.hgridSets(s"@$f").isEmpty)
  }

  test("a registry record a query needs: AssetMissing without data/sql, else a named Unsupported") {
    if (AuthorityDb.available) {
      val e = intercept[ProjString.Unsupported](AuthorityDb.required("EPSG", "0")(AuthorityDb.crs))
      assert(!e.isInstanceOf[AssetMissing] && e.getMessage.contains("EPSG:0"))
    } else {
      for (lookup <- Seq[(String, String) => Option[Any]](AuthorityDb.crs,
          AuthorityDb.helmertStepTokens, AuthorityDb.geodeticEllTokens)) {
        val e = intercept[AssetMissing](AuthorityDb.required("EPSG", "4230")(lookup))
        assert(e.file == "data/sql" && e.searched.nonEmpty)
      }
      // the driver queries that read a registry record fail on it before
      // they touch a session or a data dir
      for (q <- Seq("q_mars_eqc", "q_authority_webmerc", "q_db_helmert")) {
        val e = intercept[AssetMissing](SparkEntry.queries(q)(null, "/nonexistent"))
        assert(e.file == "data/sql", q)
      }
    }
  }

  test("an absent data/sql registry is AssetMissing with the old message") {
    if (AuthorityDb.available) assert(AuthorityDb.tables.nonEmpty)
    else {
      val e = intercept[AssetMissing](AuthorityDb.tables)
      assert(e.getMessage == "unsupported: authority database scripts (data/sql) not found")
      assert(e.file == "data/sql" && e.searched.nonEmpty)
    }
  }
}
