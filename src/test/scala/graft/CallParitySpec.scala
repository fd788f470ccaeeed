package graft

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.data.{BloomHolder, BpeModel, DedupHash, dataops}
import graft.geo.cells.{CellIndex, HexIndex, TileIndex}
import graft.geo.expr.{geo, GraftFunctions}

/** Every engine function that is one static call must give the same rows
  * through generated code (`CODEGEN_ONLY`: a compile failure throws
  * instead of falling back) and through the interpreter (`NO_CODEGEN`,
  * whole-stage codegen off).  The input frame comes from an RDD, so the
  * optimizer cannot fold the calls or turn the projection into a local
  * relation, and its last row is null in every column. */
class CallParitySpec extends AnyFunSuite with BeforeAndAfterAll {
  @transient private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[2]")
      .appName("call-parity-spec")
      .config("spark.sql.shuffle.partitions", 2)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftFunctions.register(spark)
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private val spanType = StructType(Seq(
    StructField("s", LongType, nullable = false),
    StructField("e", LongType, nullable = false)))

  private val schema = StructType(Seq(
    StructField("lon", DoubleType), StructField("lat", DoubleType),
    StructField("lon2", DoubleType), StructField("lat2", DoubleType),
    StructField("cell", LongType), StructField("hex", LongType),
    StructField("tile", LongType), StructField("rad", DoubleType),
    StructField("ring", ArrayType(DoubleType, containsNull = false)),
    StructField("ridx", IntegerType), StructField("text", StringType),
    StructField("fp", LongType),
    StructField("ps", ArrayType(LongType, containsNull = false)),
    StructField("spans", ArrayType(spanType, containsNull = false)),
    StructField("bs", ArrayType(IntegerType, containsNull = false)),
    StructField("vec", ArrayType(FloatType)), StructField("vec2", ArrayType(FloatType)),
    StructField("codes", ArrayType(IntegerType)), StructField("lut", ArrayType(FloatType))))

  private val texts = Seq("the quick brown fox jumps over the lazy dog the end",
    "Alpha beta, alpha BETA; 42 gamma!", "solo", "")

  private def frame(): DataFrame = {
    val rows = texts.zipWithIndex.map { case (t, i) =>
      val lon = -170.0 + 57.3 * i; val lat = -60.0 + 31.7 * i
      Row(lon, lat, lon + 3.5, lat + 1.25,
        CellIndex.cellId(lon, lat, 12), HexIndex.bin(lon * 1e5, lat * 1e5, 250000.0),
        TileIndex.tileId(lon, lat, 10), (i - 1.5) * 0.7,
        Seq(lon - 1, lat - 1, lon + 1, lat - 1, lon + 1, lat + 1, lon - 1, lat + 1),
        i % 2, t, DedupHash.fingerprint(org.apache.spark.unsafe.types.UTF8String.fromString(t)),
        Seq(0L, 2L, 9L, 10L).take(i + 1), Seq(Row(1L, 3L), Row(5L, 6L)).take(i % 3),
        Seq(i, 3, 7, 63), Seq(0.5f * i, -1f, 2f, 0.25f), Seq(1f, 1f, -0.5f * i, 3f),
        Seq(i % 2, 1), Seq(0.1f, 0.2f * i, -0.3f, 0.4f))
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows :+ Row.fromSeq(Seq.fill(schema.length)(null)), 2),
      schema)
  }

  private val rings = Array(Array(-180.0, -90.0, 180.0, -90.0, 180.0, 0.0, -180.0, 0.0),
    Array(-180.0, 0.0, 180.0, 0.0, 180.0, 90.0, -180.0, 90.0))
  private val table = Array.tabulate(64)(i => (i * 37L) % 11 - 5)
  private val uni = Array.tabulate(64)(i => -1000L * (i % 7))
  private val bi = Array.tabulate(64)(i => -900L * (i % 5))
  private val cents = Array(Array(1f, 0f, 0f, 0f), Array(0f, 1f, 0f, 0f), Array(0f, 0f, 1f, 1f))
  private val cb = Array(Array(Array(1f, 0f), Array(0f, 1f)), Array(Array(0.5f, 0.5f), Array(-1f, 0f)))
  private val bpe = BpeModel(Array(("t", "h"), ("th", "e"), ("e", "</w>"), ("a", "l")))
  private def bloom = {
    val f = org.apache.spark.util.sketch.BloomFilter.create(100, 0.01)
    f.putLong(DedupHash.fingerprint(org.apache.spark.unsafe.types.UTF8String.fromString(texts(2))))
    BloomHolder.from(f)
  }

  /** One column per converted public function: the geo and dataops DSL,
    * and the SQL names that have no DSL function. */
  private def calls: Seq[(String, Column)] = Seq(
    "cellId" -> geo.cellId(col("lon"), col("lat"), 12),
    "cellParent" -> geo.cellParent(col("cell"), 8),
    "cellNeighbors" -> geo.cellNeighbors(col("cell"), 1),
    "hexBin" -> geo.hexBin(col("lon") * 1e5, col("lat") * 1e5, 250000.0),
    "hexDisk" -> geo.hexDisk(col("hex"), 1),
    "tileId" -> geo.tileId(col("lon"), col("lat"), 10),
    "quadkey" -> geo.quadkey(col("tile")),
    "geohash" -> geo.geohash(col("lon"), col("lat"), 7),
    "geodDistance" -> geo.geodDistance(col("lon"), col("lat"), col("lon2"), col("lat2")),
    "geodWaypoints" -> geo.geodWaypoints(col("lon"), col("lat"), col("lon2"), col("lat2"), 3),
    "point_in_polygon" -> expr("point_in_polygon(lon, lat, ring)"),
    "pointInPolygonIdx" -> geo.pointInPolygonIdx(col("lon"), col("lat"), col("ridx"), rings),
    "geod_polygon_area" -> expr("geod_polygon_area(ring)"),
    "rtodms" -> expr("rtodms(rad)"),
    "rtodms_ns" -> expr("rtodms(rad, 'N', 'S')"),
    "minhash" -> dataops.minhash(col("text"), 16, 2),
    "shingles" -> dataops.shingles(col("text"), 2),
    "mergeTokenSpans" -> dataops.mergeTokenSpans(col("ps"), 3),
    "dropTokenSpans" -> dataops.dropTokenSpans(col("text"), col("spans")),
    "ngramBuckets" -> dataops.ngramBuckets(col("text"), 2, 64),
    "bucketSum" -> dataops.bucketSum(col("bs"), table),
    "lmScore" -> dataops.lmScore(col("text"), uni, bi, 64),
    "lmGate" -> dataops.lmGate(col("text"), uni, bi, 64, -2000L),
    "simhash" -> dataops.simhash(col("text")),
    "fingerprint" -> dataops.fingerprint(col("text")),
    "bloomMightContain" -> dataops.bloomMightContain(col("fp"), bloom),
    "repetitionStats" -> dataops.repetitionStats(col("text")),
    "cosineSim" -> dataops.cosineSim(col("vec"), col("vec2")),
    "srpSignatures" -> dataops.srpSignatures(col("vec"), 8, 3),
    "srpSignature" -> dataops.srpSignature(col("vec"), 16),
    "centroidTop" -> dataops.centroidTop(col("vec"), cents, 2),
    "pqEncode" -> dataops.pqEncode(col("vec"), cb),
    "pqLut" -> dataops.pqLut(col("vec"), cb),
    "pqAdc" -> dataops.pqAdc(col("codes"), col("lut"), 2),
    "bpeTokens" -> dataops.bpeTokens(col("text"), bpe),
    "bpeTokenCount" -> dataops.bpeTokenCount(col("text"), bpe))

  private def rowsIn(mode: String, wholeStage: Boolean): Seq[Row] = {
    spark.conf.set("spark.sql.codegen.factoryMode", mode)
    spark.conf.set("spark.sql.codegen.wholeStage", wholeStage.toString)
    try frame().select(calls.map { case (n, c) => c.as(n) }: _*).collect().toSeq
    finally {
      spark.conf.unset("spark.sql.codegen.factoryMode")
      spark.conf.unset("spark.sql.codegen.wholeStage")
    }
  }

  test("interpreted and generated evaluation give the same rows for every single-call function") {
    val generated = rowsIn("CODEGEN_ONLY", wholeStage = true)
    val interpreted = rowsIn("NO_CODEGEN", wholeStage = false)
    assert(generated.length == texts.length + 1)
    // null in, null out, on both paths
    assert(generated.last.toSeq.forall(_ == null), generated.last)
    for (((name, _), i) <- calls.zipWithIndex; r <- generated.indices)
      assert(generated(r).get(i) == interpreted(r).get(i),
        s"$name, row $r: generated ${generated(r).get(i)} != interpreted ${interpreted(r).get(i)}")
  }
}
