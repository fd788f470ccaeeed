package graft.geo.cells

/** S2-style hierarchical cell index over the unit sphere.
  *
  * Construction: lon/lat -> unit-sphere xyz -> cube face (6 faces, largest
  * absolute axis) -> (u,v) gnomonic face coordinates -> quadratic (s,t)
  * area-equalizing reparameterization -> discrete (i,j) at `level` ->
  * Morton-interleaved 64-bit id.
  *
  * The face/UV/ST math follows the published S2 cell scheme (the same
  * family as PROJ's `s2` projection, /root/reference/src/projections/
  * s2.cpp:76-423, which documents the linear/quadratic/tangent UV->ST
  * variants; we use the quadratic one, S2's default).  The space-filling
  * curve is Morton (Z-order) rather than Hilbert: Morton keeps the
  * property that matters for a distributed engine — every cell id is a
  * bit-prefix of its descendants, so parent/child containment is integer
  * arithmetic, range-partitioning on ids co-locates spatial neighborhoods,
  * and a coarse "cell prefix" partition column prunes scans.  Hilbert's
  * marginally better locality is irrelevant for hash/sort shuffles.
  *
  * Id layout (level L in 0..MaxLevel):
  *   id = (face << (2L+6)) | (morton(i,j) << 6) | L
  * Parent at level P: ((id >>> 6) >>> 2(L-P)) << 6 | P — a prefix chop.
  *
  * All methods are static, allocation-free and branch-light: they are
  * called from generated code inside whole-stage codegen.
  */
object CellIndex extends Serializable {
  final val MaxLevel = 28 // 3 face bits + 2*28 ij bits + 6 level bits = 65?.. see require below
  // 2*28+3 = 59 position bits, +6 level bits = 65 > 64; cap usable level at 26.
  final val MaxUsableLevel = 26 // 3 + 52 + 6 = 61 bits < 64

  /** quadratic ST: uv in [-1,1] -> st in [0,1] */
  def uvToSt(u: Double): Double =
    if (u >= 0) 0.5 * math.sqrt(1.0 + 3.0 * u)
    else 1.0 - 0.5 * math.sqrt(1.0 - 3.0 * u)

  /** inverse quadratic: st in [0,1] -> uv in [-1,1] */
  def stToUv(s: Double): Double =
    if (s >= 0.5) (1.0 / 3.0) * (4.0 * s * s - 1.0)
    else (1.0 / 3.0) * (1.0 - 4.0 * (1.0 - s) * (1.0 - s))

  /** face for a unit vector: index of largest |axis|, +axis faces 0..2,
    * -axis faces 3..5 */
  def faceOf(x: Double, y: Double, z: Double): Int = {
    val ax = math.abs(x); val ay = math.abs(y); val az = math.abs(z)
    val axis = if (ax > ay) { if (ax > az) 0 else 2 } else { if (ay > az) 1 else 2 }
    val comp = if (axis == 0) x else if (axis == 1) y else z
    if (comp >= 0) axis else axis + 3
  }

  /** (u,v) on the given face for unit vector (x,y,z) */
  def faceUv(face: Int, x: Double, y: Double, z: Double): (Double, Double) =
    face match {
      case 0 => (y / x, z / x)
      case 1 => (-x / y, z / y)
      case 2 => (-x / z, -y / z)
      case 3 => (z / x, y / x)
      case 4 => (z / y, -x / y)
      case _ => (-y / z, -x / z)
    }

  /** unit-vector components from face + (u,v); NOT normalized */
  def faceUvToXyz(face: Int, u: Double, v: Double): (Double, Double, Double) =
    face match {
      case 0 => (1.0, u, v)
      case 1 => (-u, 1.0, v)
      case 2 => (-u, -v, 1.0)
      case 3 => (-1.0, -v, -u)
      case 4 => (v, -1.0, -u)
      case _ => (v, u, -1.0)
    }

  /** Interleave the low 26 bits of i (odd positions) and j (even). */
  def morton(i: Long, j: Long): Long = spread(i) << 1 | spread(j)

  /** Spread the low 26 bits of x so bit k lands at position 2k (the
    * standard 32-to-64-bit mask-shift Morton spread). */
  private def spread(xIn: Long): Long = {
    var x = xIn & 0x3FFFFFFL // 26 bits
    x = (x | (x << 16)) & 0x0000_FFFF_0000_FFFFL
    x = (x | (x << 8))  & 0x00FF_00FF_00FF_00FFL
    x = (x | (x << 4))  & 0x0F0F_0F0F_0F0F_0F0FL
    x = (x | (x << 2))  & 0x3333_3333_3333_3333L
    x = (x | (x << 1))  & 0x5555_5555_5555_5555L
    x
  }

  /** lon/lat (degrees) -> cell id at `level` */
  def cellId(lonDeg: Double, latDeg: Double, level: Int): Long = {
    val lon = math.toRadians(lonDeg); val lat = math.toRadians(latDeg)
    val cl = math.cos(lat)
    val x = cl * math.cos(lon); val y = cl * math.sin(lon); val z = math.sin(lat)
    cellIdXyz(x, y, z, level)
  }

  def cellIdXyz(x: Double, y: Double, z: Double, level: Int): Long = {
    val f = faceOf(x, y, z)
    val (u, v) = faceUv(f, x, y, z)
    cellIdFaceUv(f, u, v, level)
  }

  def cellIdFaceUv(face: Int, u: Double, v: Double, level: Int): Long = {
    val i = stIndex(uvToSt(u), level)
    val j = stIndex(uvToSt(v), level)
    encode(face, i, j, level)
  }

  def stIndex(s: Double, level: Int): Long = {
    val n = 1L << level
    val i = math.floor(s * n).toLong
    if (i < 0) 0L else if (i >= n) n - 1 else i
  }

  def encode(face: Int, i: Long, j: Long, level: Int): Long = {
    require(level >= 0 && level <= MaxUsableLevel, s"level $level")
    val pos = (face.toLong << (2 * level)) | mortonAt(i, j, level)
    (pos << 6) | level.toLong
  }

  private def mortonAt(i: Long, j: Long, level: Int): Long = morton(i, j)

  def levelOf(id: Long): Int = (id & 0x3FL).toInt

  def faceOfId(id: Long): Int = {
    val level = levelOf(id)
    ((id >>> 6) >>> (2 * level)).toInt
  }

  def iOf(id: Long): Long = compact((id >>> 7))
  def jOf(id: Long): Long = compact((id >>> 6))

  private def compact(xIn: Long): Long = {
    var x = xIn
    var r = 0L
    var k = 0
    while (k < 26) { r |= ((x >>> (2 * k)) & 1L) << k; k += 1 }
    r
  }

  /** All descendants of `id` at `childLevel` — the contiguous Morton
    * block under the parent's bit-prefix, enumerated by appending every
    * 2(childLevel-level)-bit suffix.  Driver-side helper for expanding a
    * coarse cover to a finer join level (see GeoEngine.pipJoin); callers
    * budget the 4^d blowup. */
  def childrenAt(id: Long, childLevel: Int): Array[Long] = {
    val level = levelOf(id)
    require(childLevel >= level && childLevel <= MaxUsableLevel,
      s"child level $childLevel outside [$level, $MaxUsableLevel]")
    val d = childLevel - level
    require(d < 15, s"expansion of $d levels (4^$d children) is unbudgetable")
    val base = (id >>> 6) << (2 * d)
    val n = 1 << (2 * d)
    val out = new Array[Long](n)
    var s = 0
    while (s < n) { out(s) = ((base | s) << 6) | childLevel.toLong; s += 1 }
    out
  }

  /** parent id at a coarser level — pure bit arithmetic (prefix chop) */
  def parent(id: Long, parentLevel: Int): Long = {
    val level = levelOf(id)
    require(parentLevel >= 0 && parentLevel <= level,
      s"parent level $parentLevel outside [0, $level]")
    (((id >>> 6) >>> (2 * (level - parentLevel))) << 6) | parentLevel.toLong
  }

  /** cell center as (lonDeg, latDeg) */
  def center(id: Long): (Double, Double) = {
    val level = levelOf(id)
    val f = faceOfId(id)
    val i = iOf(id) & ((1L << level) - 1)
    val j = jOf(id) & ((1L << level) - 1)
    val n = (1L << level).toDouble
    val u = stToUv((i + 0.5) / n)
    val v = stToUv((j + 0.5) / n)
    val (x, y, z) = faceUvToXyz(f, u, v)
    val lon = math.atan2(y, x)
    val lat = math.atan2(z, math.sqrt(x * x + y * y))
    (math.toDegrees(lon), math.toDegrees(lat))
  }

  /** The (2k+1)^2 block of cells around `id` (inclusive), crossing face
    * boundaries by re-projecting the neighbor's center point. Returns
    * distinct ids; used for kNN candidate ring expansion. */
  def neighborhood(id: Long, k: Int): Array[Long] = {
    val level = levelOf(id)
    val f = faceOfId(id)
    val mask = (1L << level) - 1
    val i0 = iOf(id) & mask
    val j0 = jOf(id) & mask
    val n = (1L << level).toDouble
    val out = new java.util.TreeSet[java.lang.Long]()
    var di = -k
    while (di <= k) {
      var dj = -k
      while (dj <= k) {
        val ii = i0 + di; val jj = j0 + dj
        if (ii >= 0 && ii < n && jj >= 0 && jj < n) {
          out.add(encode(f, ii, jj, level))
        } else {
          // off-face: map the would-be cell center through xyz to the
          // true owning face
          val u = stToUv((ii + 0.5) / n)
          val v = stToUv((jj + 0.5) / n)
          val (x, y, z) = faceUvToXyz(f, u, v)
          out.add(cellIdXyz(x, y, z, level))
        }
        dj += 1
      }
      di += 1
    }
    val arr = new Array[Long](out.size)
    val it = out.iterator()
    var idx = 0
    while (it.hasNext) { arr(idx) = it.next(); idx += 1 }
    arr
  }

  /** Ring distance `k` only (the frame of the (2k+1)^2 block). */
  def ring(id: Long, k: Int): Array[Long] =
    if (k == 0) Array(id)
    else {
      val inner = neighborhood(id, k - 1).toSet
      neighborhood(id, k).filterNot(inner.contains)
    }

  /** Minimum cell edge length at `level`, in degrees of great-circle arc
    * (min quadratic dUV/dST = 4/3 at the face center... conservatively
    * halved; used to size complete-cover sampling steps). */
  def minCellEdgeDeg(level: Int): Double =
    math.toDegrees(math.pow(2.0, -level) * (4.0 / 3.0) * 0.5)

  /** COMPLETE covering cells of a lon/lat bounding box at `level`: dense
    * grid sampling with step = half the minimum cell edge (shrunk by
    * cos(max|lat|) for longitude), plus ring-1 neighbors of every sampled
    * cell.  Guaranteed to include every cell intersecting the box for
    * |lat| <= 89; driver-side cost is O((span/cellEdge)^2), so callers
    * pick `level` so the box spans a bounded number of cells
    * (see GeoEngine.pipJoin's per-polygon auto level). */
  def coverBBox(lonMin: Double, latMin: Double, lonMax: Double,
                latMax: Double, level: Int): Array[Long] = {
    val maxAbsLat = math.min(89.0, math.max(math.abs(latMin), math.abs(latMax)))
    val stepLat = minCellEdgeDeg(level) / 2.0
    val stepLon = stepLat * math.max(0.02, math.cos(math.toRadians(maxAbsLat)))
    val out = new java.util.TreeSet[java.lang.Long]()
    val nLat = math.max(1, math.ceil((latMax - latMin) / stepLat).toInt)
    val nLon = math.max(1, math.ceil((lonMax - lonMin) / stepLon).toInt)
    var si = 0
    while (si <= nLon) {
      var sj = 0
      val lon = lonMin + (lonMax - lonMin) * si / nLon
      while (sj <= nLat) {
        val lat = latMin + (latMax - latMin) * sj / nLat
        val c = cellId(lon, lat, level)
        if (!out.contains(c)) {
          out.add(c)
          val nb = neighborhood(c, 1)
          var t = 0
          while (t < nb.length) { out.add(nb(t)); t += 1 }
        }
        sj += 1
      }
      si += 1
    }
    val arr = new Array[Long](out.size)
    val it = out.iterator()
    var idx = 0
    while (it.hasNext) { arr(idx) = it.next(); idx += 1 }
    arr
  }
}
