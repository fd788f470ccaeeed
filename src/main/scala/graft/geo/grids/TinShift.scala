package graft.geo.grids

import java.nio.file.Files

import scala.collection.concurrent.TrieMap

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import graft.geo.kernels.{IOUnits, PointKernel}

/** Triangulated-network (TIN) shift — the reference's `tinshift`
  * operation (/root/reference/src/transformations/tinshift.cpp:38-188,
  * evaluator in tinshift_json_impl.hpp:369-697): locate the triangle
  * containing the point via a quadtree over triangle bounding boxes,
  * then interpolate the target coordinates / vertical offset with
  * barycentric weights.  The published triangulation JSON format
  * (`file_type: triangulation_file`) carries source/target vertex
  * columns and triangle index triples.
  *
  * The model is a few flat arrays — at Spark scale it broadcasts with
  * the serialized kernel like the other setup constants, and each
  * executor rebuilds its quadtree lazily (transient).
  */
final class TinModel(val horizontal: Boolean, val vertical: Boolean,
                     val fallback: Int, // 0 none / 1 nearest_side / 2 nearest_centroid
                     val colCount: Int,
                     val vertices: Array[Double],
                     val triangles: Array[Int]) extends Serializable {
  def nTriangles: Int = triangles.length / 3
}

object TinShift {
  final val FallbackNone = 0
  final val FallbackNearestSide = 1
  final val FallbackNearestCentroid = 2

  final case class BadModel(msg: String) extends RuntimeException(msg)

  private val cache = TrieMap.empty[String, TinModel]

  def load(name: String): TinModel = {
    val p = Grids.resolve(name).getOrElse(throw BadModel(s"no such file: $name"))
    cache.getOrElseUpdate(p.toString, {
      val bytes = Files.readAllBytes(p)
      if (TinShiftGpkg.isSqlite(bytes)) TinShiftGpkg.parse(bytes)
      else parse(new String(bytes, "UTF-8"))
    })
  }

  /** Parse the triangulation JSON (reference: TINShiftJSONFile::parse,
    * tinshift_json_impl.hpp:79-360). */
  def parse(text: String): TinModel = {
    val root =
      try new ObjectMapper().readTree(text)
      catch { case e: Exception => throw BadModel(s"not JSON: ${e.getMessage}") }
    if (root == null || !root.isObject) throw BadModel("not a JSON object")
    def reqString(k: String): String = {
      val n = root.get(k)
      if (n == null || !n.isTextual) throw BadModel(s"missing \"$k\"")
      n.asText()
    }
    reqString("file_type")
    val formatVersion = reqString("format_version")

    var fallback = FallbackNone
    if (root.has("fallback_strategy")) {
      if (formatVersion != "1.1")
        throw BadModel("fallback_strategy needs format_version 1.1")
      root.get("fallback_strategy").asText() match {
        case "nearest_side"     => fallback = FallbackNearestSide
        case "nearest_centroid" => fallback = FallbackNearestCentroid
        case "none"             => fallback = FallbackNone
        case o => throw BadModel(s"invalid fallback_strategy $o")
      }
    }

    def arr(k: String): JsonNode = {
      val n = root.get(k)
      if (n == null || !n.isArray) throw BadModel(s"missing array \"$k\"")
      n
    }

    var horizontal = false
    var vertical = false
    arr("transformed_components").forEach { c =>
      c.asText() match {
        case "horizontal" => horizontal = true
        case "vertical"   => vertical = true
        case o => throw BadModel(s"transformed_components $o not handled")
      }
    }

    val vcols = arr("vertices_columns")
    var srcX = -1; var srcY = -1; var srcZ = -1
    var tgtX = -1; var tgtY = -1; var tgtZ = -1; var offZ = -1
    var i = 0
    while (i < vcols.size()) {
      vcols.get(i).asText() match {
        case "source_x" => srcX = i
        case "source_y" => srcY = i
        case "source_z" => srcZ = i
        case "target_x" => tgtX = i
        case "target_y" => tgtY = i
        case "target_z" => tgtZ = i
        case "offset_z" => offZ = i
        case _ =>
      }
      i += 1
    }
    if (srcX < 0 || srcY < 0) throw BadModel("source_x/source_y required")
    if (horizontal && (tgtX < 0 || tgtY < 0))
      throw BadModel("target_x/target_y required")
    if (vertical && offZ < 0 && (srcZ < 0 || tgtZ < 0))
      throw BadModel("offset_z or source_z/target_z required")

    val tcols = arr("triangles_columns")
    var iv1 = -1; var iv2 = -1; var iv3 = -1
    i = 0
    while (i < tcols.size()) {
      tcols.get(i).asText() match {
        case "idx_vertex1" => iv1 = i
        case "idx_vertex2" => iv2 = i
        case "idx_vertex3" => iv3 = i
        case _ =>
      }
      i += 1
    }
    if (iv1 < 0 || iv2 < 0 || iv3 < 0) throw BadModel("idx_vertex1..3 required")

    val jVerts = arr("vertices")
    val colCount = 2 + (if (horizontal) 2 else 0) + (if (vertical) 1 else 0)
    val verts = new Array[Double](colCount * jVerts.size())
    i = 0
    while (i < jVerts.size()) {
      val v = jVerts.get(i)
      if (!v.isArray || v.size() != vcols.size())
        throw BadModel("vertices[] item malformed")
      def num(col: Int): Double = {
        val n = v.get(col)
        if (n == null || !n.isNumber) throw BadModel("vertices[][] not a number")
        n.asDouble()
      }
      var o = colCount * i
      verts(o) = num(srcX); o += 1
      verts(o) = num(srcY); o += 1
      if (horizontal) { verts(o) = num(tgtX); o += 1; verts(o) = num(tgtY); o += 1 }
      if (vertical)
        verts(o) = if (offZ >= 0) num(offZ) else num(tgtZ) - num(srcZ)
      i += 1
    }

    val jTris = arr("triangles")
    val tris = new Array[Int](3 * jTris.size())
    i = 0
    while (i < jTris.size()) {
      val t = jTris.get(i)
      if (!t.isArray || t.size() != tcols.size())
        throw BadModel("triangles[] item malformed")
      def idx(col: Int): Int = {
        val n = t.get(col)
        if (n == null || !n.canConvertToInt || n.asInt() < 0 ||
            (n.isNumber && n.asDouble() != math.floor(n.asDouble())))
          throw BadModel("triangles[][] not an unsigned integer")
        val v = n.asInt()
        if (v >= jVerts.size()) throw BadModel("invalid vertex index")
        v
      }
      tris(3 * i) = idx(iv1); tris(3 * i + 1) = idx(iv2); tris(3 * i + 2) = idx(iv3)
      i += 1
    }
    new TinModel(horizontal, vertical, fallback, colCount, verts, tris)
  }
}

/** Growable unboxed int list — the per-point candidate buffer of the
  * tinshift hot path (a boxed collection here costs more than the
  * barycentric math it feeds). */
final class IntList(initial: Int) extends Serializable {
  private var a = new Array[Int](initial)
  private var len = 0
  def length: Int = len
  def apply(i: Int): Int = a(i)
  def clear(): Unit = len = 0
  def add(v: Int): Unit = {
    if (len == a.length) a = java.util.Arrays.copyOf(a, math.max(len * 2, 1))
    a(len) = v; len += 1
  }
}

/** Static point-in-rect quadtree over item bounding boxes — the
  * reference's QuadTree (/root/reference/src/quadtree.hpp:51,85-245):
  * bucket capacity 8 and the 0.55 SPLIT RATIO, i.e. the four children
  * OVERLAP by 10% per axis, so a box that straddles an exact midline
  * still sinks fully into one child.  (An exact 0.5 split — the previous
  * implementation — degenerates on grid-aligned TINs: every triangle
  * touching a split line stays at an ancestor and every query scans the
  * pile; `graft.Bench tin` on a 1458-triangle grid TIN measured
  * 0.75 M pts/s before vs ~3.3 M after, identical output checksum.)
  * Splitting is lazy like the reference: a node
  * splits only when full AND the incoming box fits one of the would-be
  * quadrants; existing straddlers stay with the node.  Search descends
  * every child containing the point (children overlap, so up to four).
  * Items live in flat primitive arrays, not boxed tuples. */
final class RectQuadTree(minx: Double, miny: Double,
                         maxx: Double, maxy: Double) extends Serializable {
  private final val LeafCap = 8
  private final val SplitRatio = 0.55 // quadtree.hpp:51 DEFAULT_SPLIT_RATIO

  private final class Node(val x0: Double, val y0: Double,
                           val x1: Double, val y1: Double) extends Serializable {
    var n = 0
    var idx = new Array[Int](LeafCap)
    var bx0 = new Array[Double](LeafCap)
    var by0 = new Array[Double](LeafCap)
    var bx1 = new Array[Double](LeafCap)
    var by1 = new Array[Double](LeafCap)
    var kids: Array[Node] = null

    def add(i: Int, a: Double, b: Double, c: Double, d: Double): Unit = {
      if (n == idx.length) {
        val m = n * 2
        idx = java.util.Arrays.copyOf(idx, m)
        bx0 = java.util.Arrays.copyOf(bx0, m)
        by0 = java.util.Arrays.copyOf(by0, m)
        bx1 = java.util.Arrays.copyOf(bx1, m)
        by1 = java.util.Arrays.copyOf(by1, m)
      }
      idx(n) = i; bx0(n) = a; by0(n) = b; bx1(n) = c; by1(n) = d
      n += 1
    }
  }

  /** splitBounds twice (quadtree.hpp:128-150): each half keeps
    * SplitRatio of the parent's LONGER axis, so halves overlap. */
  private def quadrants(nd: Node): Array[Node] = {
    def split(x0: Double, y0: Double, x1: Double, y1: Double): Array[Double] =
      if (x1 - x0 > y1 - y0) {
        val r = (x1 - x0) * SplitRatio
        Array(x0, y0, x0 + r, y1, x1 - r, y0, x1, y1)
      } else {
        val r = (y1 - y0) * SplitRatio
        Array(x0, y0, x1, y0 + r, x0, y1 - r, x1, y1)
      }
    val h = split(nd.x0, nd.y0, nd.x1, nd.y1)
    val q1 = split(h(0), h(1), h(2), h(3))
    val q2 = split(h(4), h(5), h(6), h(7))
    val qs = Array(
      new Node(q1(0), q1(1), q1(2), q1(3)), new Node(q1(4), q1(5), q1(6), q1(7)),
      new Node(q2(0), q2(1), q2(2), q2(3)), new Node(q2(4), q2(5), q2(6), q2(7)))
    // degenerate guard (quadtree.hpp:169, `node.rect != quad1 && …`):
    // refuse the split when ANY quadrant equals the node — a
    // rounding-tied split could otherwise create a self-identical child
    // that re-splits forever
    if (qs.exists(q => q.x0 == nd.x0 && q.y0 == nd.y0 &&
        q.x1 == nd.x1 && q.y1 == nd.y1)) null
    else qs
  }

  private def fits(s: Node, a: Double, b: Double, c: Double, d: Double) =
    a >= s.x0 && c <= s.x1 && b >= s.y0 && d <= s.y1

  private def insertAt(node: Node, i: Int, a: Double, b: Double,
                       c: Double, d: Double): Unit = {
    var nd = node
    while (true) {
      if (nd.kids == null) {
        if (nd.n >= LeafCap) {
          val qs = quadrants(nd)
          if (qs != null && qs.exists(fits(_, a, b, c, d))) {
            nd.kids = qs
            val (oi, oa, ob, oc, od, on) =
              (nd.idx, nd.bx0, nd.by0, nd.bx1, nd.by1, nd.n)
            nd.n = 0
            nd.idx = new Array[Int](LeafCap)
            nd.bx0 = new Array[Double](LeafCap); nd.by0 = new Array[Double](LeafCap)
            nd.bx1 = new Array[Double](LeafCap); nd.by1 = new Array[Double](LeafCap)
            var k = 0
            while (k < on) {
              insertAt(nd, oi(k), oa(k), ob(k), oc(k), od(k)); k += 1
            }
            // loop continues: nd now has kids, the new box routes below
          } else { nd.add(i, a, b, c, d); return }
        } else { nd.add(i, a, b, c, d); return }
      } else {
        var k = 0; var moved = false
        while (k < 4 && !moved) {
          if (fits(nd.kids(k), a, b, c, d)) { nd = nd.kids(k); moved = true }
          k += 1
        }
        if (!moved) { nd.add(i, a, b, c, d); return }
      }
    }
  }

  private def searchNode(nd: Node, x: Double, y: Double, out: IntList): Unit = {
    if (x < nd.x0 || x > nd.x1 || y < nd.y0 || y > nd.y1) return
    var k = 0
    while (k < nd.n) {
      if (x >= nd.bx0(k) && x <= nd.bx1(k) &&
          y >= nd.by0(k) && y <= nd.by1(k)) out.add(nd.idx(k))
      k += 1
    }
    if (nd.kids != null) {
      var j = 0
      while (j < 4) { searchNode(nd.kids(j), x, y, out); j += 1 }
    }
  }

  private val root = new Node(minx, miny, maxx, maxy)
  def insert(idx: Int, bx0: Double, by0: Double, bx1: Double, by1: Double): Unit =
    insertAt(root, idx, bx0, by0, bx1, by1)
  def search(x: Double, y: Double, out: IntList): Unit =
    searchNode(root, x, y, out)
}

/** `proj=tinshift` kernel (reference: TINShiftJSONEvaluator fwd/inv,
  * tinshift_json_impl.hpp:600-697).  I/O units are WHATEVER — the model
  * defines its own coordinate space. */
final case class TinShiftKernel(model: TinModel) extends PointKernel {
  override def left: IOUnits.Value = IOUnits.Whatever
  override def right: IOUnits.Value = IOUnits.Whatever

  private final val Eps = 1e-10

  // forward search space = source coords; inverse = target coords (when
  // horizontal); vertical-only models search source space in both
  @transient private lazy val fwdTree = buildTree(forward = true)
  @transient private lazy val invTree =
    if (model.horizontal) buildTree(forward = false) else fwdTree
  @transient private lazy val scratch = new IntList(32)
  // hot-path result slot, reused per point (one instance per
  // deserialized task closure; tasks are single-threaded)
  @transient private lazy val resScratch = new Array[Double](4)

  private def xcol(forward: Boolean) = if (model.horizontal && !forward) 2 else 0
  private def ycol(forward: Boolean) = if (model.horizontal && !forward) 3 else 1

  private def buildTree(forward: Boolean): RectQuadTree = {
    val cc = model.colCount
    val ix = xcol(forward); val iy = ycol(forward)
    var minx = Double.MaxValue; var miny = Double.MaxValue
    var maxx = -Double.MaxValue; var maxy = -Double.MaxValue
    var i = 0
    while (i + cc - 1 < model.vertices.length) {
      val x = model.vertices(i + ix); val y = model.vertices(i + iy)
      if (x < minx) minx = x
      if (y < miny) miny = y
      if (x > maxx) maxx = x
      if (y > maxy) maxy = y
      i += cc
    }
    val t = new RectQuadTree(minx, miny, maxx, maxy)
    var ti = 0
    val n = model.nTriangles
    while (ti < n) {
      val i1 = model.triangles(3 * ti); val i2 = model.triangles(3 * ti + 1)
      val i3 = model.triangles(3 * ti + 2)
      val x1 = model.vertices(i1 * cc + ix); val y1 = model.vertices(i1 * cc + iy)
      val x2 = model.vertices(i2 * cc + ix); val y2 = model.vertices(i2 * cc + iy)
      val x3 = model.vertices(i3 * cc + ix); val y3 = model.vertices(i3 * cc + iy)
      t.insert(ti, math.min(x1, math.min(x2, x3)), math.min(y1, math.min(y2, y3)),
        math.max(x1, math.max(x2, x3)), math.max(y1, math.max(y2, y3)))
      ti += 1
    }
    t
  }

  /** (triangleIndex, l1, l2, l3) or null (reference: FindTriangle,
    * tinshift_json_impl.hpp:461-598, incl. nearest-side/centroid
    * fallbacks). */
  private def findTriangle(x: Double, y: Double, forward: Boolean): Array[Double] = {
    val cc = model.colCount
    val ix = xcol(forward); val iy = ycol(forward)
    val vs = model.vertices
    val tree = if (forward) fwdTree else invTree
    scratch.clear()
    tree.search(x, y, scratch)
    var k = 0
    while (k < scratch.length) {
      val ti = scratch(k)
      val i1 = model.triangles(3 * ti); val i2 = model.triangles(3 * ti + 1)
      val i3 = model.triangles(3 * ti + 2)
      val x1 = vs(i1 * cc + ix); val y1 = vs(i1 * cc + iy)
      val x2 = vs(i2 * cc + ix); val y2 = vs(i2 * cc + iy)
      val x3 = vs(i3 * cc + ix); val y3 = vs(i3 * cc + iy)
      val detT = (y2 - y3) * (x1 - x3) + (x3 - x2) * (y1 - y3)
      val l1 = ((y2 - y3) * (x - x3) + (x3 - x2) * (y - y3)) / detT
      val l2 = ((y3 - y1) * (x - x3) + (x1 - x3) * (y - y3)) / detT
      if (l1 >= -Eps && l1 <= 1 + Eps && l2 >= -Eps && l2 <= 1 + Eps) {
        val l3 = 1 - l1 - l2
        if (l3 >= 0) {
          val r = resScratch
          r(0) = ti; r(1) = l1; r(2) = l2; r(3) = l3
          return r
        }
      }
      k += 1
    }
    if (model.fallback == TinShift.FallbackNone) return null

    // nearest triangle by side or centroid distance (full scan with an
    // AABB prune on the best distance found so far)
    def sq(d: Double) = d * d
    def sqDist(ax: Double, ay: Double, bx: Double, by: Double) =
      sq(ax - bx) + sq(ay - by)
    def distSeg(x1: Double, y1: Double, x2: Double, y2: Double, d12: Double): Double = {
      val t = ((x - x1) * (x2 - x1) + (y - y1) * (y2 - y1)) / d12
      if (t <= 0.0) sqDist(x, y, x1, y1)
      else if (t >= 1.0) sqDist(x, y, x2, y2)
      else sqDist(x, y, x1 + t * (x2 - x1), y1 + t * (y2 - y1))
    }
    var closestDist = Double.PositiveInfinity
    var closestDist2 = Double.PositiveInfinity
    var closestI = -1
    var ti = 0
    val n = model.nTriangles
    while (ti < n) {
      val i1 = model.triangles(3 * ti); val i2 = model.triangles(3 * ti + 1)
      val i3 = model.triangles(3 * ti + 2)
      val x1 = vs(i1 * cc + ix); val y1 = vs(i1 * cc + iy)
      val x2 = vs(i2 * cc + ix); val y2 = vs(i2 * cc + iy)
      val x3 = vs(i3 * cc + ix); val y3 = vs(i3 * cc + iy)
      val inAabb =
        !(x + closestDist < math.min(x1, math.min(x2, x3)) ||
          x - closestDist > math.max(x1, math.max(x2, x3)) ||
          y + closestDist < math.min(y1, math.min(y2, y3)) ||
          y - closestDist > math.max(y1, math.max(y2, y3)))
      if (inAabb) {
        val d12 = sqDist(x1, y1, x2, y2)
        val d23 = sqDist(x2, y2, x3, y3)
        val d13 = sqDist(x1, y1, x3, y3)
        if (!(d12 < Eps || d23 < Eps || d13 < Eps)) { // skip degenerate
          def consider(d2: Double): Unit =
            if (d2 < closestDist2) {
              closestDist2 = d2; closestDist = math.sqrt(d2); closestI = ti
            }
          if (model.fallback == TinShift.FallbackNearestSide) {
            consider(distSeg(x1, y1, x2, y2, d12))
            consider(distSeg(x2, y2, x3, y3, d23))
            consider(distSeg(x1, y1, x3, y3, d13))
          } else {
            consider(sqDist(x, y, (x1 + x2 + x3) / 3.0, (y1 + y2 + y3) / 3.0))
          }
        }
      }
      ti += 1
    }
    if (closestI < 0) return null
    val i1 = model.triangles(3 * closestI); val i2 = model.triangles(3 * closestI + 1)
    val i3 = model.triangles(3 * closestI + 2)
    val x1 = vs(i1 * cc + ix); val y1 = vs(i1 * cc + iy)
    val x2 = vs(i2 * cc + ix); val y2 = vs(i2 * cc + iy)
    val x3 = vs(i3 * cc + ix); val y3 = vs(i3 * cc + iy)
    val detT = (y2 - y3) * (x1 - x3) + (x3 - x2) * (y1 - y3)
    if (math.abs(detT) < Eps) return null
    val l1 = ((y2 - y3) * (x - x3) + (x3 - x2) * (y - y3)) / detT
    val l2 = ((y3 - y1) * (x - x3) + (x1 - x3) * (y - y3)) / detT
    val r = resScratch
    r(0) = closestI; r(1) = l1; r(2) = l2; r(3) = 1 - l1 - l2
    r
  }

  private def applyDir(v: Array[Double], forward: Boolean): Boolean = {
    val r = findTriangle(v(0), v(1), forward)
    if (r == null) return false
    val ti = r(0).toInt; val l1 = r(1); val l2 = r(2); val l3 = r(3)
    val cc = model.colCount
    val vs = model.vertices
    val i1 = model.triangles(3 * ti); val i2 = model.triangles(3 * ti + 1)
    val i3 = model.triangles(3 * ti + 2)
    if (model.horizontal) {
      // target columns on forward, source columns on inverse
      val tx = if (forward) 2 else 0
      val ty = if (forward) 3 else 1
      val nx = vs(i1 * cc + tx) * l1 + vs(i2 * cc + tx) * l2 + vs(i3 * cc + tx) * l3
      val ny = vs(i1 * cc + ty) * l1 + vs(i2 * cc + ty) * l2 + vs(i3 * cc + ty) * l3
      v(0) = nx; v(1) = ny
    }
    if (model.vertical) {
      val zc = if (model.horizontal) 4 else 2
      val dz = vs(i1 * cc + zc) * l1 + vs(i2 * cc + zc) * l2 + vs(i3 * cc + zc) * l3
      if (forward) v(2) += dz else v(2) -= dz
    }
    true
  }

  def fwd(v: Array[Double]): Boolean = applyDir(v, forward = true)
  def inv(v: Array[Double]): Boolean = applyDir(v, forward = false)
}
