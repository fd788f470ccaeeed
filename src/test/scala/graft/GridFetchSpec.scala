package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger
import org.scalatest.funsuite.AnyFunSuite
import graft.geo.grids.Grids
import graft.geo.proj.ProjString

/** Remote grid access — the network-file-manager analogue
  * (/root/reference/src/networkfilemanager.cpp behavior mapped to the
  * driver-side grid model): local dirs first, then the per-JVM fetch
  * cache, then registered fetchers; fetch-once caching; the
  * enable-network switch defaults OFF like the reference.  The grid
  * served and its local twin are [[GridFixtures.Hgrid]], a synthesized
  * NTv2 file on the local search path. */
class GridFetchSpec extends AnyFunSuite {

  private val local = GridFixtures.Hgrid

  private def freshName(tag: String) = s"remote_${tag}_${System.nanoTime()}.gsb"

  test("a fetcher-served grid loads, shifts, and is fetched exactly once") {
    val name = freshName("once")
    val calls = new AtomicInteger(0)
    Grids.registerFetcher(new Grids.GridFetcher {
      def fetch(n: String): Option[Array[Byte]] =
        if (n == name) { calls.incrementAndGet(); Some(Files.readAllBytes(local.path)) }
        else None
    })
    try {
      Grids.setNetworkEnabled(true)
      assert(Grids.available(name))
      val k = ProjString.parse(s"+proj=hgridshift +grids=$name")
      val ref = ProjString.parse(s"+proj=hgridshift +grids=${local.name}")
      val a = Array(math.toRadians(4.5), math.toRadians(52.5), 0.0, 0.0)
      val b = a.clone()
      assert(k.fwd(a) && ref.fwd(b))
      assert(a(0) == b(0) && a(1) == b(1),
        "remote-fetched grid must shift identically to the local copy")
      // second resolution hits the cache, not the fetcher
      assert(Grids.resolve(name).isDefined)
      assert(calls.get() == 1, s"fetched ${calls.get()} times")
    } finally { Grids.setNetworkEnabled(false); Grids.clearFetchers() }
  }

  test("network disabled (the default) means fetchers are never consulted") {
    val name = freshName("off")
    val calls = new AtomicInteger(0)
    Grids.registerFetcher(new Grids.GridFetcher {
      def fetch(n: String): Option[Array[Byte]] = {
        calls.incrementAndGet(); Some(Files.readAllBytes(local.path))
      }
    })
    try {
      // the dispatch surfaces the missing grid as the one typed asset error
      val e = intercept[ProjString.AssetMissing](
        ProjString.parse(s"+proj=hgridshift +grids=$name"))
      assert(e.file == name && e.getMessage.contains(name), e.toString)
      assert(calls.get() == 0, "fetcher consulted while network disabled")
    } finally Grids.clearFetchers()
  }

  test("UrlFetcher serves grids from a base URL (file: twin of the CDN recipe)") {
    // the production recipe — UrlFetcher("https://cdn.proj.org") — run
    // egress-free against a file: mirror: copy the synthesized fixture
    // grid under a CDN-unknown name into a local "mirror" directory and
    // let the fetcher+cache resolve it like a remote asset
    val mirror = java.nio.file.Files.createTempDirectory("grid-mirror")
    val name = "r5_url_fetch_twin.gsb"
    java.nio.file.Files.copy(local.path, mirror.resolve(name))
    Grids.registerFetcher(Grids.UrlFetcher(mirror.toUri.toString))
    try {
      Grids.setNetworkEnabled(true)
      val k = ProjString.parse(s"+proj=hgridshift +grids=$name")
      val twin = ProjString.parse(s"+proj=hgridshift +grids=${local.name}")
      val a = Array(math.toRadians(4.5), math.toRadians(52.5), 0.0, 0.0)
      val b = a.clone()
      assert(k.fwd(a) && twin.fwd(b))
      assert(a.sameElements(b), "URL-fetched grid must equal the local twin")
      // unknown names miss cleanly (IOException -> None -> AssetMissing)
      assert(Grids.UrlFetcher(mirror.toUri.toString)
        .fetch("definitely_absent.gsb").isEmpty)
    } finally {
      Grids.setNetworkEnabled(false); Grids.clearFetchers()
      java.nio.file.Files.walk(mirror).sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  test("UrlFetcher misses cleanly on a name that is not a valid URI") {
    val mirror = Files.createTempDirectory("grid-mirror")
    try assert(Grids.UrlFetcher(mirror.toUri.toString).fetch("a b.gsb").isEmpty)
    finally Files.delete(mirror)
  }

  test("path-escaping names are refused, local files always win") {
    Grids.registerFetcher(new Grids.GridFetcher {
      def fetch(n: String): Option[Array[Byte]] = Some(Array[Byte](1, 2, 3))
    })
    try {
      Grids.setNetworkEnabled(true)
      // separators / traversal never reach the cache dir (local search
      // dirs are consulted first and find nothing for these)
      assert(Grids.resolve("a/nope_zz.gsb").isEmpty)
      assert(Grids.resolve("..\\nope_zz.gsb").isEmpty)
      // a name that exists locally resolves locally (fetcher bytes are
      // garbage — if they were consulted first, parsing would fail)
      val k = ProjString.parse(s"+proj=hgridshift +grids=${local.name}")
      val v = Array(math.toRadians(4.5), math.toRadians(52.5), 0.0, 0.0)
      assert(k.fwd(v))
    } finally { Grids.setNetworkEnabled(false); Grids.clearFetchers() }
  }
}
