package graft

import java.nio.file.{Files, Path, Paths}
import graft.geo.grids.Grids
import graft.geo.proj.ProjString

/** The reference tree's files the tests read (PROJ's gie and GIGS
  * fixtures, its operation list, a test grid), under
  * [[Grids.referenceDir]]. */
object ReferenceTree {
  /** `rel` under the reference tree; an absent file or directory throws
    * [[ProjString.AssetMissing]] naming its path and the tree. */
  def file(rel: String): Path = {
    val p = Paths.get(Grids.referenceDir, rel)
    if (!Files.exists(p))
      throw ProjString.AssetMissing(s"reference file $p", rel, Seq(Grids.referenceDir))
    p
  }
}
