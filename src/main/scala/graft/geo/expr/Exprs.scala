package graft.geo.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.GraftSqlShim
import org.apache.spark.sql.types._

import graft.geo.cells.{CellIndex, HexIndex, TileIndex}
import graft.geo.kernels.{IOUnits, PointKernel}
import graft.geo.math.{ProjMath => M}

/** Runtime evaluator for a [[PointKernel]]: one monomorphic call site per
  * generated loop, so the JIT inlines the kernel body into the
  * whole-stage-codegen loop.  Degrees<->radians conversion happens here at
  * the column boundary (kernels are radians-internal, user columns are
  * degrees — mirroring PROJ's gie convention). */
final class PointEvaluator(kernel: PointKernel, forward: Boolean,
                           outDims: Int) extends Serializable {
  private val degIn =
    (if (forward) kernel.left else kernel.right) == IOUnits.Radians
  private val degOut =
    (if (forward) kernel.right else kernel.left) == IOUnits.Radians

  def eval(x: Double, y: Double, z: Double, t: Double): InternalRow = {
    val v = new Array[Double](4)
    if (degIn) { v(0) = x * M.DegToRad; v(1) = y * M.DegToRad }
    else { v(0) = x; v(1) = y }
    v(2) = z; v(3) = t
    val ok = if (forward) kernel.fwd(v) else kernel.inv(v)
    if (!ok) return null
    if (degOut) { v(0) = v(0) * M.RadToDeg; v(1) = v(1) * M.RadToDeg }
    new DoubleVecRow(v, outDims)
  }
}

/** Boxing-free InternalRow over a primitive double vector — the struct
  * consumers in the codegen stage only call getDouble/numFields (struct
  * field access), and stage sinks copy into unsafe rows, so the minimal
  * surface suffices. */
final class DoubleVecRow(vals: Array[Double], n: Int) extends InternalRow {
  override def numFields: Int = n
  override def getDouble(i: Int): Double = vals(i)
  override def isNullAt(i: Int): Boolean = false
  override def get(i: Int, dt: DataType): AnyRef = java.lang.Double.valueOf(vals(i))
  override def copy(): InternalRow = new DoubleVecRow(vals.clone(), n)
  override def setNullAt(i: Int): Unit = throw new UnsupportedOperationException
  override def update(i: Int, v: Any): Unit = throw new UnsupportedOperationException
  override def getBoolean(i: Int): Boolean = throw new UnsupportedOperationException
  override def getByte(i: Int): Byte = throw new UnsupportedOperationException
  override def getShort(i: Int): Short = throw new UnsupportedOperationException
  override def getInt(i: Int): Int = throw new UnsupportedOperationException
  override def getLong(i: Int): Long = throw new UnsupportedOperationException
  override def getFloat(i: Int): Float = throw new UnsupportedOperationException
  override def getDecimal(i: Int, p: Int, s: Int): org.apache.spark.sql.types.Decimal =
    throw new UnsupportedOperationException
  override def getUTF8String(i: Int): org.apache.spark.unsafe.types.UTF8String =
    throw new UnsupportedOperationException
  override def getBinary(i: Int): Array[Byte] = throw new UnsupportedOperationException
  override def getInterval(i: Int): org.apache.spark.unsafe.types.CalendarInterval =
    throw new UnsupportedOperationException
  override def getStruct(i: Int, numFields: Int): InternalRow =
    throw new UnsupportedOperationException
  override def getArray(i: Int): org.apache.spark.sql.catalyst.util.ArrayData =
    throw new UnsupportedOperationException
  override def getMap(i: Int): org.apache.spark.sql.catalyst.util.MapData =
    throw new UnsupportedOperationException
  override def getVariant(i: Int): org.apache.spark.unsafe.types.VariantVal =
    throw new UnsupportedOperationException
  override def getGeography(i: Int): org.apache.spark.unsafe.types.GeographyVal =
    throw new UnsupportedOperationException
  override def getGeometry(i: Int): org.apache.spark.unsafe.types.GeometryVal =
    throw new UnsupportedOperationException
}

/** Coordinate transform as a Catalyst expression: (x|lon, y|lat, z, t) ->
  * struct of `outDims` doubles.  The kernel's setup-time constants ride
  * along in the serialized plan (PROJ's setup/apply split, SURVEY.md
  * §1.2); evaluation participates in whole-stage codegen via a reference
  * object — no UDF, no interpreter fallback. */
case class PointTransformExpr(first: Expression, second: Expression,
                              third: Expression, fourth: Expression,
                              kernel: PointKernel, forward: Boolean,
                              outDims: Int)
    extends QuaternaryExpression with ImplicitCastInputTypes {
  require(outDims >= 2 && outDims <= 4)

  @transient private lazy val evaluator = new PointEvaluator(kernel, forward, outDims)

  override def nullIntolerant: Boolean = true
  override def nullable: Boolean = true
  override def prettyName: String =
    (if (forward) "proj_fwd_" else "proj_inv_") + kernel.getClass.getSimpleName

  override def dataType: DataType = {
    val names = Array("x", "y", "z", "t")
    StructType((0 until outDims).map(i =>
      StructField(names(i), DoubleType, nullable = false)))
  }

  override def inputTypes =
    Seq(DoubleType, DoubleType, DoubleType, DoubleType)

  override protected def nullSafeEval(a: Any, b: Any, c: Any, d: Any): Any =
    evaluator.eval(a.asInstanceOf[Double], b.asInstanceOf[Double],
      c.asInstanceOf[Double], d.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b, c, d) => {
      val refName = ctx.addReferenceObj("pointEval", evaluator,
        classOf[PointEvaluator].getName)
      val row = ctx.freshName("projRow")
      s"""
         |org.apache.spark.sql.catalyst.InternalRow $row =
         |  $refName.eval($a, $b, $c, $d);
         |if ($row == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $row; }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      a: Expression, b: Expression, c: Expression, d: Expression): Expression =
    copy(first = a, second = b, third = c, fourth = d)
}



/** cell id -> struct(face, i, j): de-interleaves the Morton index (the
  * inverse of the encoder; lets tiling outputs be keyed by coordinates an
  * independent SQL implementation can recompute). */
case class CellDecodeExpr(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {
  override def nullIntolerant: Boolean = true
  override def dataType: DataType = StructType(Seq(
    StructField("face", IntegerType, nullable = false),
    StructField("i", LongType, nullable = false),
    StructField("j", LongType, nullable = false)))
  override def inputTypes = Seq(LongType)
  override def prettyName: String = "cell_decode"
  protected override def nullSafeEval(idAny: Any): Any = {
    val id = idAny.asInstanceOf[Long]
    val c = graft.geo.cells.CellIndex
    val level = c.levelOf(id)
    val mask = (1L << level) - 1
    new GenericInternalRow(Array[Any](
      c.faceOfId(id), c.iOf(id) & mask, c.jOf(id) & mask))
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, id => {
      val c = "graft.geo.cells.CellIndex$.MODULE$"
      val lvl = ctx.freshName("lvl")
      val mask = ctx.freshName("mask")
      s"""
         |int $lvl = $c.levelOf($id);
         |long $mask = (1L << $lvl) - 1;
         |${ev.value} = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
         |  new Object[]{ (Object)(Integer)$c.faceOfId($id),
         |                (Object)(Long)($c.iOf($id) & $mask),
         |                (Object)(Long)($c.jOf($id) & $mask) });
       """.stripMargin
    })
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}



/** packed hex id -> struct(q, r, x, y): axial coordinates plus the hex
  * center in projected metres (lets an independent SQL implementation
  * recompute the binning, and maps ids back to geometry). */
case class HexDecodeExpr(child: Expression, size: Double)
    extends UnaryExpression with ImplicitCastInputTypes {
  override def nullIntolerant: Boolean = true
  override def dataType: DataType = StructType(Seq(
    StructField("q", LongType, nullable = false),
    StructField("r", LongType, nullable = false),
    StructField("x", DoubleType, nullable = false),
    StructField("y", DoubleType, nullable = false)))
  override def inputTypes = Seq(LongType)
  override def prettyName: String = "hex_decode"
  protected override def nullSafeEval(idAny: Any): Any = {
    val id = idAny.asInstanceOf[Long]
    val h = graft.geo.cells.HexIndex
    new GenericInternalRow(Array[Any](
      h.unpackQ(id), h.unpackR(id), h.centerX(id, size), h.centerY(id, size)))
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, id => {
      val h = "graft.geo.cells.HexIndex$.MODULE$"
      s"""
         |${ev.value} = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
         |  new Object[]{ (Object)(Long)$h.unpackQ($id),
         |                (Object)(Long)$h.unpackR($id),
         |                (Object)(Double)$h.centerX($id, $size),
         |                (Object)(Double)$h.centerY($id, $size) });
       """.stripMargin
    })
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}


/** lon/lat degrees -> ISEA equal-area hex DGGS id (aperture 3 or 4) —
  * the icosahedral tier of the hex index; the binning math is the
  * gie-validated IseaKernel (`+proj=isea +mode=hex`).  Nullable: a
  * non-finite coordinate fails the kernel and yields null. */
case class IseaHexIdExpr(left: Expression, right: Expression,
                         resolution: Int, aperture: Int)
    extends BinaryExpression with ImplicitCastInputTypes {
  @transient private lazy val binner =
    new graft.geo.cells.HexIndex.IseaBinner(resolution, aperture)
  // validate plan-time (the lazy binner would otherwise defer the
  // require to first row)
  new graft.geo.cells.HexIndex.IseaBinner(resolution, aperture)

  override def nullIntolerant: Boolean = true
  override def nullable: Boolean = true
  override def dataType: DataType = LongType
  override def inputTypes = Seq(DoubleType, DoubleType)
  override def prettyName: String = s"isea_hex_r${resolution}_a$aperture"

  protected override def nullSafeEval(lon: Any, lat: Any): Any = {
    val r = binner.id(lon.asInstanceOf[Double], lat.asInstanceOf[Double])
    if (r == null) null else r.longValue()
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("iseaBinner", binner,
      classOf[graft.geo.cells.HexIndex.IseaBinner].getName)
    nullSafeCodeGen(ctx, ev, (lon, lat) => {
      val boxed = ctx.freshName("iseaId")
      s"""
         |java.lang.Long $boxed = $ref.id($lon, $lat);
         |if ($boxed == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $boxed.longValue(); }
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}


/** packed tile id -> struct(z, x, y) — the raster-store addressing an
  * independent SQL implementation can recompute. */
case class TileDecodeExpr(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {
  override def nullIntolerant: Boolean = true
  override def dataType: DataType = StructType(Seq(
    StructField("z", IntegerType, nullable = false),
    StructField("x", LongType, nullable = false),
    StructField("y", LongType, nullable = false)))
  override def inputTypes = Seq(LongType)
  override def prettyName: String = "tile_decode"
  protected override def nullSafeEval(idAny: Any): Any = {
    val id = idAny.asInstanceOf[Long]
    val t = graft.geo.cells.TileIndex
    new GenericInternalRow(Array[Any](t.zoomOf(id), t.xOf(id), t.yOf(id)))
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, id => {
      val t = "graft.geo.cells.TileIndex$.MODULE$"
      s"""
         |${ev.value} = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
         |  new Object[]{ (Object)(Integer)$t.zoomOf($id),
         |                (Object)(Long)$t.xOf($id),
         |                (Object)(Long)$t.yOf($id) });
       """.stripMargin
    })
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}


/** quadkey text -> packed tile id; malformed input -> null (in-band). */
case class QuadkeyToTileExpr(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {
  override def nullIntolerant: Boolean = true
  override def nullable: Boolean = true
  override def dataType: DataType = LongType
  override def inputTypes = Seq(StringType)
  override def prettyName: String = "quadkey_to_tile"
  protected override def nullSafeEval(s: Any): Any = {
    val id = graft.geo.cells.TileIndex.fromQuadkey(
      s.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].toString)
    if (id < 0) null else id
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s => {
      val tmp = ctx.freshName("qkId")
      s"""
         |long $tmp = graft.geo.cells.TileIndex$$.MODULE$$.fromQuadkey($s.toString());
         |if ($tmp < 0) { ${ev.isNull} = true; }
         |else { ${ev.value} = $tmp; }
       """.stripMargin
    })
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}


/** geohash text -> struct(lon, lat) cell center; malformed -> null. */
case class GeohashDecodeExpr(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {
  override def nullIntolerant: Boolean = true
  override def nullable: Boolean = true
  override def dataType: DataType = StructType(Seq(
    StructField("lon", DoubleType, nullable = false),
    StructField("lat", DoubleType, nullable = false)))
  override def inputTypes = Seq(StringType)
  override def prettyName: String = "geohash_decode"
  protected override def nullSafeEval(s: Any): Any = {
    val c = graft.geo.cells.TileIndex.geohashCenter(
      s.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].toString)
    if (c == null) null else new GenericInternalRow(Array[Any](c(0), c(1)))
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s => {
      val tmp = ctx.freshName("ghCenter")
      s"""
         |double[] $tmp = graft.geo.cells.TileIndex$$.MODULE$$.geohashCenter($s.toString());
         |if ($tmp == null) { ${ev.isNull} = true; }
         |else {
         |  ${ev.value} = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
         |    new Object[]{ (Object)(Double)$tmp[0], (Object)(Double)$tmp[1] });
         |}
       """.stripMargin
    })
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}


/** Karney geodesic direct problem: (lon1, lat1, azi deg, s12 m) ->
  * struct(lon2, lat2, azi2) — cell-ring kNN radius expansion. */
case class GeodesicDirectExpr(first: Expression, second: Expression,
                              third: Expression, fourth: Expression,
                              geod: graft.geo.geodesic.Geodesic)
    extends QuaternaryExpression with ImplicitCastInputTypes {
  override def nullIntolerant: Boolean = true
  override def dataType: DataType = StructType(Seq(
    StructField("lon", DoubleType, nullable = false),
    StructField("lat", DoubleType, nullable = false),
    StructField("azi", DoubleType, nullable = false)))
  override def inputTypes = Seq(DoubleType, DoubleType, DoubleType, DoubleType)
  override def prettyName: String = "geod_direct"

  override protected def nullSafeEval(lon1: Any, lat1: Any, azi: Any, s: Any): Any = {
    val d = geod.direct(lat1.asInstanceOf[Double], lon1.asInstanceOf[Double],
      azi.asInstanceOf[Double], s.asInstanceOf[Double])
    new GenericInternalRow(Array[Any](d.lon2, d.lat2, d.azi2))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("geod", geod,
      classOf[graft.geo.geodesic.Geodesic].getName)
    nullSafeCodeGen(ctx, ev, (lon1, lat1, azi, s) => {
      val d = ctx.freshName("geodDirect")
      s"""
         |graft.geo.geodesic.GeodDirect $d = $ref.direct($lat1, $lon1, $azi, $s);
         |${ev.value} = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
         |  new Object[]{ (Object)(Double)$d.lon2(), (Object)(Double)$d.lat2(),
         |                (Object)(Double)$d.azi2() });
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      a: Expression, b: Expression, c: Expression, d: Expression): Expression =
    copy(first = a, second = b, third = c, fourth = d)
}


/** One-pass geo-tag extraction from a document's media_ref span array:
  * first non-null ref, text after its last `?geo=`, two comma-separated
  * decimals -> struct(lat, lon); null struct / null fields when absent or
  * malformed.  Replaces a higher-order-function chain
  * (`element_at(filter(refs, isNotNull), 1)` + substring_index + split +
  * cast) that Catalyst cannot fuse into whole-stage codegen (ArrayFilter
  * is interpreted) and that the twin lat/lon projections re-evaluated up
  * to 6x per row — this walk touches each array slot at most once and
  * parses in place.  Semantics deliberately mirror the old chain on
  * well-formed tags; malformed numerics yield null instead of an ANSI
  * cast error (the engine's scans must never die on one bad document). */
case class SpanGeoTagExpr(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {
  override def nullIntolerant: Boolean = true
  override def nullable: Boolean = true
  override def dataType: DataType = StructType(Seq(
    StructField("lat", DoubleType), StructField("lon", DoubleType)))
  override def inputTypes = Seq(ArrayType(StringType))
  override def prettyName: String = "span_geo_tag"

  protected override def nullSafeEval(arr: Any): Any =
    SpanGeoTagExpr.extract(
      arr.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, arr =>
      s"""
         |${ev.value} = graft.geo.expr.SpanGeoTagExpr$$.MODULE$$.extract($arr);
         |${ev.isNull} = (${ev.value} == null);
       """.stripMargin)

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

object SpanGeoTagExpr {
  def extract(arr: org.apache.spark.sql.catalyst.util.ArrayData): InternalRow = {
    val n = arr.numElements()
    var ref: org.apache.spark.unsafe.types.UTF8String = null
    var i = 0
    while (i < n && ref == null) {
      if (!arr.isNullAt(i)) ref = arr.getUTF8String(i)
      i += 1
    }
    if (ref == null) return null
    val s = ref.toString
    val g = s.lastIndexOf("?geo=")
    if (g < 0) return null
    val rest = s.substring(g + 5)
    val c = rest.indexOf(',')
    val latS = if (c < 0) rest else rest.substring(0, c)
    val lonS = if (c < 0) null else {
      val c2 = rest.indexOf(',', c + 1)
      if (c2 < 0) rest.substring(c + 1) else rest.substring(c + 1, c2)
    }
    def d(x: String): Any =
      if (x == null || x.isEmpty) null
      else try java.lang.Double.valueOf(java.lang.Double.parseDouble(x))
      catch { case _: NumberFormatException => null }
    new GenericInternalRow(Array[Any](d(latS), d(lonS)))
  }
}

/** Plan-constant polygon cover table: level-tagged cell ids (sorted) with
  * ring-index postings.  Because a cell id carries its level in the low
  * bits, covers computed at DIFFERENT per-polygon levels coexist in one
  * sorted array with no (level, cell) composite key.  A point probes the
  * table once per distinct cover level — its finest-level cell is computed
  * once, coarser ones are pure bit chops — so the whole candidate
  * generation is ~L hash probes ([[indexOf]]: an open-addressing index
  * over the keys, built lazily where the table is used) inside the scan,
  * with NO join, NO broadcast exchange and NO row inflation: only actual
  * candidates leave the lookup (most rows return null and are dropped by
  * the explode).  The table rides the serialized plan once per stage,
  * like the grid registry; the index does not travel with it. */
final class CoverTable(val levels: Array[Int], private[graft] val keys: Array[Long],
                       private[graft] val offs: Array[Int], private[graft] val vals: Array[Int])
    extends Serializable {
  require(levels.nonEmpty && keys.length + 1 == offs.length &&
    offs.last == vals.length, "malformed cover table")

  override def toString: String =
    s"cover[${keys.length} cells @ levels ${levels.mkString("/")}]"

  @transient private lazy val index = new CoverTable.HashIndex(keys)

  /** Index of `cell` in `keys`, or -1 when it is no key. */
  def indexOf(cell: Long): Int = index.indexOf(cell)

  /** ring indexes of every polygon whose cover contains this point, or
    * null when none (the common case — callers explode, which drops null
    * without allocating). */
  def lookup(lon: Double, lat: Double): org.apache.spark.sql.catalyst.util.ArrayData = {
    val cells = graft.geo.cells.CellIndex
    val finest = cells.cellId(lon, lat, levels(0))
    var out: Array[Int] = null
    var n = 0
    var i = 0
    while (i < levels.length) {
      val c = if (i == 0) finest else cells.parent(finest, levels(i))
      val j = indexOf(c)
      if (j >= 0) {
        var k = offs(j); val e = offs(j + 1)
        while (k < e) {
          if (out == null) out = new Array[Int](e - k)
          else if (n == out.length) out = java.util.Arrays.copyOf(out, n * 2)
          out(n) = vals(k); n += 1; k += 1
        }
      }
      i += 1
    }
    if (out == null) null
    else org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(
      if (n == out.length) out else java.util.Arrays.copyOf(out, n))
  }
}

object CoverTable {
  /** Linear-probing hash index over distinct `keys` at load <= 1/2:
    * slot h holds a key and its index in `keys`, or index -1 when empty,
    * so any Long can be a key.  Slots come from a Fibonacci hash. */
  private final class HashIndex(keys: Array[Long]) {
    private val bits = 32 - Integer.numberOfLeadingZeros(math.max(1, 2 * keys.length - 1))
    private val mask = (1 << bits) - 1
    private val slotKey = new Array[Long](1 << bits)
    private val slotIdx = Array.fill(1 << bits)(-1)
    for (j <- keys.indices) {
      var h = slot(keys(j))
      while (slotIdx(h) >= 0) h = (h + 1) & mask
      slotKey(h) = keys(j); slotIdx(h) = j
    }

    private def slot(cell: Long): Int =
      ((cell * 0x9E3779B97F4A7C15L) >>> (64 - bits)).toInt

    def indexOf(cell: Long): Int = {
      var h = slot(cell)
      while (slotIdx(h) >= 0 && slotKey(h) != cell) h = (h + 1) & mask
      slotIdx(h)
    }
  }

  /** Build from (level-tagged cell id, ring index) pairs; a cell shared by
    * several polygons at the same level gets a multi-entry posting. */
  def apply(entries: Seq[(Long, Int)]): CoverTable = {
    require(entries.nonEmpty, "empty cover")
    val sorted = entries.sortBy(identity).toArray
    val levels = sorted.map(e => graft.geo.cells.CellIndex.levelOf(e._1))
      .distinct.sorted(Ordering[Int].reverse)
    val nKeys = 1 + (1 until sorted.length).count(i => sorted(i)._1 != sorted(i - 1)._1)
    val keys = new Array[Long](nKeys)
    val offs = new Array[Int](nKeys + 1)
    val vals = new Array[Int](sorted.length)
    var ki = -1
    var i = 0
    while (i < sorted.length) {
      if (ki < 0 || sorted(i)._1 != keys(ki)) { ki += 1; keys(ki) = sorted(i)._1; offs(ki) = i }
      vals(i) = sorted(i)._2
      i += 1
    }
    offs(nKeys) = sorted.length
    new CoverTable(levels, keys, offs, vals)
  }
}

/** Candidate generation for the PIP join: emits the ring indexes of every
  * polygon whose cover cell (at that polygon's own cover level) contains
  * the point — see [[CoverTable]].  Null (dropped by explode) when no
  * cover matches. */
case class CellCoverLookupExpr(left: Expression, right: Expression,
                               table: CoverTable)
    extends BinaryExpression with ImplicitCastInputTypes {
  override def nullIntolerant: Boolean = true
  override def nullable: Boolean = true
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def inputTypes = Seq(DoubleType, DoubleType)
  override def prettyName: String = "cell_cover_lookup"

  protected override def nullSafeEval(lon: Any, lat: Any): Any =
    table.lookup(lon.asInstanceOf[Double], lat.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("coverTable", table,
      "graft.geo.expr.CoverTable")
    nullSafeCodeGen(ctx, ev, (lon, lat) =>
      s"""
         |${ev.value} = $ref.lookup($lon, $lat);
         |${ev.isNull} = (${ev.value} == null);
       """.stripMargin)
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}


/** The geodesic calls of the Column DSL with the inputs in its order
  * (lon before lat) and the Geodesic last, as a static call takes them.
  * The Geodesic (with its setup-time series constants) rides the plan as
  * a reference object. */
object GeodesicCalls {
  /** Karney inverse distance in metres — the kNN ranking metric
    * (SURVEY.md §2.5). */
  def distance(lon1: Double, lat1: Double, lon2: Double, lat2: Double,
               geod: graft.geo.geodesic.Geodesic): Double =
    geod.distance(lat1, lon1, lat2, lon2)

  /** The line between two points split into `n` equal-length segments:
    * n+1 struct(lon, lat, azi) waypoints, endpoints included.  One line
    * init (inverse solve + series expansion) per row, then n cheap
    * position evaluations — the geod_lineinit/geod_position cost split
    * (reference src/geodesic.c:419, 662). */
  def waypoints(lon1: Double, lat1: Double, lon2: Double, lat2: Double,
                n: Int, geod: graft.geo.geodesic.Geodesic): GenericArrayData = {
    val line = geod.inverseLine(lat1, lon1, lat2, lon2)
    val out = new Array[Any](n + 1)
    var i = 0
    while (i <= n) {
      val p = line.position(line.s13 * i / n)
      out(i) = new GenericInternalRow(Array[Any](p.lon2, p.lat2, p.azi2))
      i += 1
    }
    new GenericArrayData(out)
  }

  /** `geod_polygonarea` (reference src/geodesic.c:1974) over a flat
    * [lon0,lat0,lon1,lat1,...] ring: struct(area_m2, perimeter_m),
    * counter-clockwise positive, area reduced into (-A/2, A/2] of the
    * ellipsoid total like geod_polygon_compute. */
  def polygonArea(ring: org.apache.spark.sql.catalyst.util.ArrayData,
                  geod: graft.geo.geodesic.Geodesic): InternalRow = {
    val n = ring.numElements() / 2
    // parallel primitive arrays, no per-vertex boxing (hot path —
    // same discipline as PointInPolygonExpr.containsAd)
    val lats = new Array[Double](n); val lons = new Array[Double](n)
    var i = 0
    while (i < n) {
      lons(i) = ring.getDouble(2 * i)
      lats(i) = ring.getDouble(2 * i + 1)
      i += 1
    }
    val (area, per) = geod.polygonArea(lats, lons, n)
    new GenericInternalRow(Array[Any](area, per))
  }
}

/** Point-in-polygon over a flat [lon0,lat0, lon1,lat1, ...] ring of a
  * simple polygon in lon/lat space (first == last not required):
  * even-odd ray crossing.  The refine step of the PIP join (the coarse
  * step is the cell cover lookup); the pattern follows PROJ's
  * quadtree+triangle-walk in tinshift (reference src/quadtree.hpp:85-199)
  * re-expressed relationally. */
object PointInPolygonExpr {
  /** allocation-free variant over Catalyst ArrayData (hot join path) */
  def containsAd(lon: Double, lat: Double,
                 ring: org.apache.spark.sql.catalyst.util.ArrayData): Boolean = {
    val n = ring.numElements() / 2
    if (n < 3) return false
    var inside = false
    var j = n - 1
    var i = 0
    while (i < n) {
      val xi = ring.getDouble(2 * i); val yi = ring.getDouble(2 * i + 1)
      val xj = ring.getDouble(2 * j); val yj = ring.getDouble(2 * j + 1)
      if ((yi > lat) != (yj > lat)) {
        val xCross = xi + (lat - yi) * (xj - xi) / (yj - yi)
        if (lon < xCross) inside = !inside
      }
      j = i
      i += 1
    }
    inside
  }

  /** [[contains]] against ring `idx` of a plan-constant ring table: the
    * candidate row carries only the small int index, and the table rides
    * the plan once per executor instead of a ring array copied into every
    * candidate row (that copy was the dominant allocation of the PIP stage:
    * the refine leg of the 32M-point scaling probe dropped ~40% wall when
    * it went away). */
  def containsIdx(lon: Double, lat: Double, idx: Int,
                  rings: Array[Array[Double]]): Boolean =
    contains(lon, lat, rings(idx))

  /** Even-odd crossing test on the lon/lat plane; points exactly on a
    * horizontal edge resolve via the half-open rule (consistent and
    * partition-independent). */
  def contains(lon: Double, lat: Double, ring: Array[Double]): Boolean = {
    val n = ring.length / 2
    if (n < 3) return false
    var inside = false
    var j = n - 1
    var i = 0
    while (i < n) {
      val xi = ring(2 * i); val yi = ring(2 * i + 1)
      val xj = ring(2 * j); val yj = ring(2 * j + 1)
      if ((yi > lat) != (yj > lat)) {
        val xCross = xi + (lat - yi) * (xj - xi) / (yj - yi)
        if (lon < xCross) inside = !inside
      }
      j = i
      i += 1
    }
    inside
  }
}

/** Column-level DSL over the expression layer. */
object geo {
  private def col(e: Expression): Column = GraftSqlShim.column(e)
  private def ex(c: Column): Expression = GraftSqlShim.expression(c)
  private val litNaN = Literal(Double.NaN, DoubleType)
  private val lit0 = Literal(0.0, DoubleType)

  /** `target.method(inputs..., consts...)`, inputs cast to their types. */
  private def call(name: String, dataType: DataType, target: AnyRef, method: String,
                   inputs: (Column, DataType)*)(consts: Any*): Column =
    StaticCall.column(name, dataType, target, method, castInputs = true, inputs, consts: _*)

  /** generic kernel application: (x,y[,z[,t]]) -> struct(x,y[,z[,t]]) */
  def transform(kernel: PointKernel, forward: Boolean, outDims: Int,
                x: Column, y: Column, z: Column = null, t: Column = null): Column =
    col(PointTransformExpr(ex(x), ex(y),
      if (z == null) lit0 else ex(z),
      if (t == null) litNaN else ex(t),
      kernel, forward, outDims))

  /** CRS→CRS transform straight from two CRS descriptions (proj-string /
    * `EPSG:nnnn` / WKT) — `proj_create_crs_to_crs` ergonomics: the
    * operation factory derives the candidate operations and the per-point
    * planner compiles into the same whole-stage-codegen row kernel as a
    * hand-written pipeline.  Build once, reuse across columns/queries
    * (factory work happens at plan time, on the driver). */
  def crsTransform(srcCrs: String, dstCrs: String,
                   x: Column, y: Column, z: Column = null, t: Column = null,
                   outDims: Int = 2, forward: Boolean = true): Column =
    transform(graft.geo.proj.OperationFactory.crsToCrs(srcCrs, dstCrs),
      forward, outDims, x, y, z, t)

  /** As [[crsTransform]] with the full `proj_create_crs_to_crs` option
    * set (area of interest, desired accuracy, ballpark policy,
    * ONLY_BEST, authority axis order). */
  def crsTransform(srcCrs: String, dstCrs: String,
                   opts: graft.geo.proj.OperationFactory.CrsToCrsOptions,
                   x: Column, y: Column, z: Column, t: Column,
                   outDims: Int, forward: Boolean): Column =
    transform(graft.geo.proj.OperationFactory.crsToCrs(srcCrs, dstCrs, opts),
      forward, outDims, x, y, z, t)

  /** lon/lat degrees -> S2-style cell id at a fixed level */
  def cellId(lon: Column, lat: Column, level: Int): Column = {
    require(level >= 0 && level <= CellIndex.MaxUsableLevel)
    call(s"cell_id_l$level", LongType, CellIndex, "cellId",
      lon -> DoubleType, lat -> DoubleType)(level)
  }

  /** parent cell at a coarser level — pure bit arithmetic */
  def cellParent(cell: Column, parentLevel: Int): Column = {
    // plan-time bound (the child-relative check stays per-row in
    // CellIndex.parent): a negative level would OR sign-extended garbage
    // into every emitted id with no error
    require(parentLevel >= 0 && parentLevel <= CellIndex.MaxUsableLevel,
      s"cell_parent level $parentLevel outside [0, ${CellIndex.MaxUsableLevel}]")
    call(s"cell_parent_l$parentLevel", LongType, CellIndex, "parent",
      cell -> LongType)(parentLevel)
  }

  def cellDecode(cell: Column): Column = col(CellDecodeExpr(ex(cell)))

  /** The (2k+1)^2 neighborhood of a cell (array<long>) — kNN candidate
    * generation; explodes into an equi-join key. */
  def cellNeighbors(cell: Column, k: Int): Column = {
    // plan-time bounds: k < 0 silently returns an empty neighborhood
    // (emptying a kNN candidate set with no error) and a huge k runs
    // (2k+1)^2 set insertions per row
    require(k >= 0 && k <= 32,
      s"cell_neighbors ring k=$k outside [0, 32] ((2k+1)^2 cells per row)")
    call(s"cell_neighbors_$k", ArrayType(LongType, containsNull = false),
      CellIndex, "neighborhood", cell -> LongType)(k)
  }

  /** projected (x, y) metres -> packed planar axial hex id (pointy-top,
    * circumradius `sizeMeters`), mirrored verbatim by the DuckDB oracle of
    * q_hex_occupancy */
  def hexBin(x: Column, y: Column, sizeMeters: Double): Column = {
    require(sizeMeters > 0.0 && java.lang.Double.isFinite(sizeMeters),
      s"hex size $sizeMeters must be a positive finite length in metres")
    call(s"hex_bin_$sizeMeters", LongType, HexIndex, "bin",
      x -> DoubleType, y -> DoubleType)(sizeMeters)
  }

  /** packed hex id -> struct(q, r, x, y) (axial coords + center metres) */
  def hexDecode(hex: Column, sizeMeters: Double): Column =
    col(HexDecodeExpr(ex(hex), sizeMeters))

  /** all hexes within grid distance k (3k^2+3k+1 ids) */
  def hexDisk(hex: Column, k: Int): Column = {
    require(k >= 0 && k <= 64, s"hex_disk k=$k outside [0, 64]")
    call(s"hex_disk_$k", ArrayType(LongType, containsNull = false),
      HexIndex, "disk", hex -> LongType)(k)
  }

  /** lon/lat degrees -> ISEA equal-area hex DGGS id */
  def iseaHexId(lon: Column, lat: Column, resolution: Int,
                aperture: Int = 4): Column =
    col(IseaHexIdExpr(ex(lon), ex(lat), resolution, aperture))

  /** lon/lat degrees -> packed XYZ web-map tile id at `zoom`, mirrored
    * verbatim by the DuckDB oracle of q_tile_xyz */
  def tileId(lon: Column, lat: Column, zoom: Int): Column = {
    require(zoom >= 0 && zoom <= TileIndex.MaxZoom,
      s"tile zoom $zoom outside [0, ${TileIndex.MaxZoom}]")
    call(s"tile_id_z$zoom", LongType, TileIndex, "tileId",
      lon -> DoubleType, lat -> DoubleType)(zoom)
  }

  /** packed tile id -> struct(z, x, y) */
  def tileDecode(tile: Column): Column = col(TileDecodeExpr(ex(tile)))

  /** packed tile id -> Bing quadkey text (parent = string prefix) */
  def quadkey(tile: Column): Column =
    call("quadkey", StringType, TileIndex, "quadkey", tile -> LongType)()

  /** quadkey text -> packed tile id (malformed -> null) */
  def quadkeyToTile(qk: Column): Column = col(QuadkeyToTileExpr(ex(qk)))

  /** lon/lat degrees -> geohash text at `precision` chars, mirrored
    * verbatim by the DuckDB oracle of q_geohash */
  def geohash(lon: Column, lat: Column, precision: Int): Column = {
    require(precision >= 1 && precision <= TileIndex.MaxPrecision,
      s"geohash precision $precision outside [1, ${TileIndex.MaxPrecision}]")
    call(s"geohash_p$precision", StringType, TileIndex, "geohash",
      lon -> DoubleType, lat -> DoubleType)(precision)
  }

  /** geohash text -> struct(lon, lat) cell center (malformed -> null) */
  def geohashDecode(gh: Column): Column = col(GeohashDecodeExpr(ex(gh)))

  /** one-pass geo-tag extraction from a media_ref span array (see
    * SpanGeoTagExpr): struct(lat, lon). */
  def spanGeoTag(mediaRefs: Column): Column = col(SpanGeoTagExpr(ex(mediaRefs)))

  /** PIP-join candidate generation against a plan-constant polygon cover
    * table (see CoverTable / CellCoverLookupExpr). */
  def cellCoverLookup(lon: Column, lat: Column, table: CoverTable): Column =
    col(CellCoverLookupExpr(ex(lon), ex(lat), table))

  /** SQL `point_in_polygon`: point-in-polygon against a flat
    * [lon0,lat0,lon1,lat1,...] ring column (see PointInPolygonExpr) */
  private[expr] def pointInPolygon(lon: Column, lat: Column, ring: Column): Column =
    call("point_in_polygon", BooleanType, PointInPolygonExpr, "containsAd",
      lon -> DoubleType, lat -> DoubleType,
      ring -> ArrayType(DoubleType, containsNull = false))()

  /** point-in-polygon against a plan-constant ring table, addressed by a
    * small int index column (see PointInPolygonExpr.containsIdx). */
  def pointInPolygonIdx(lon: Column, lat: Column, idx: Column,
                        rings: Array[Array[Double]]): Column =
    call("point_in_polygon_idx", BooleanType, PointInPolygonExpr, "containsIdx",
      lon -> DoubleType, lat -> DoubleType, idx -> IntegerType)(rings)

  def geodDistance(lon1: Column, lat1: Column, lon2: Column, lat2: Column,
                   geod: graft.geo.geodesic.Geodesic =
                     graft.geo.geodesic.Geodesic.WGS84): Column =
    call("geod_distance", DoubleType, GeodesicCalls, "distance", lon1 -> DoubleType,
      lat1 -> DoubleType, lon2 -> DoubleType, lat2 -> DoubleType)(geod)

  def geodDirect(lon1: Column, lat1: Column, azi: Column, s12: Column,
                 geod: graft.geo.geodesic.Geodesic =
                   graft.geo.geodesic.Geodesic.WGS84): Column =
    col(GeodesicDirectExpr(ex(lon1), ex(lat1), ex(azi), ex(s12), geod))

  /** n+1 evenly spaced waypoints along the geodesic between two points
    * (array of struct(lon, lat, azi)) — trajectory densification. */
  def geodWaypoints(lon1: Column, lat1: Column, lon2: Column, lat2: Column,
                    n: Int,
                    geod: graft.geo.geodesic.Geodesic =
                      graft.geo.geodesic.Geodesic.WGS84): Column = {
    require(n >= 1 && n <= 100000,
      s"waypoint count n=$n outside [1, 100000] (allocates n+1 structs per row)")
    val point = StructType(Seq("lon", "lat", "azi")
      .map(StructField(_, DoubleType, nullable = false)))
    call(s"geod_waypoints_$n", ArrayType(point, containsNull = false),
      GeodesicCalls, "waypoints", lon1 -> DoubleType, lat1 -> DoubleType,
      lon2 -> DoubleType, lat2 -> DoubleType)(n, geod)
  }

  /** SQL `geod_polygon_area`: struct(area_m2, perimeter_m) of the
    * WGS84 geodesic polygon over a flat [lon0,lat0,lon1,lat1,...] ring
    * (see GeodesicCalls.polygonArea) */
  private[expr] def geodPolygonArea(ring: Column): Column =
    call("geod_polygon_area", StructType(Seq("area_m2", "perimeter_m")
      .map(StructField(_, DoubleType, nullable = false))), GeodesicCalls,
      "polygonArea", ring -> ArrayType(DoubleType, containsNull = false))(
      graft.geo.geodesic.Geodesic.WGS84)

  /** SQL `rtodms`: radians -> DMS text (3 fractional second digits); `pos`
    * and `neg` are hemisphere suffixes, '\u0000' for a leading '-' */
  private[expr] def radToDms(rad: Column, pos: Char = '\u0000',
                             neg: Char = '\u0000'): Column =
    call("rtodms", StringType, Dms, "radToDms", rad -> DoubleType)(pos, neg, 3)
}
