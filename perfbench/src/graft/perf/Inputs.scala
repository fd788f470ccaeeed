package graft.perf

import java.nio.{ByteBuffer, ByteOrder}

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions._

import graft.geo.synth.DocCorpus

/** A lon/lat box in degrees. */
final case class Box(west: Double, south: Double, east: Double, north: Double)

/** Seeded coordinates for the transform workload, as a Spark column
  * expression over `spark.range`'s `id` and as its exact driver-side mirror
  * (Spark's `xxhash64(id, salt)` is `XXH64.hashLong(salt, hashLong(id, 42))`).
  * A share `outsideShare` of the points is drawn from `outside` instead of
  * `inside`, so the expected null count is known without running a kernel. */
final case class CoordGen(salt: Long, inside: Box, outside: Box, outsideShare: Double) {
  private val Ulp53 = 1.0 / (1L << 53)

  private def unitCol(k: Long): Column =
    shiftrightunsigned(xxhash64(col("id"), lit(salt + k)), 11).cast("double") * lit(Ulp53)
  private def unit(id: Long, k: Long): Double =
    (XXH64.hashLong(salt + k, XXH64.hashLong(id, 42L)) >>> 11).toDouble * Ulp53

  private def isOutCol: Column = unitCol(2) < lit(outsideShare)
  def isOutside(id: Long): Boolean = unit(id, 2) < outsideShare

  def lonCol: Column =
    when(isOutCol, lit(outside.west) + unitCol(0) * lit(outside.east - outside.west))
      .otherwise(lit(inside.west) + unitCol(0) * lit(inside.east - inside.west))
  def latCol: Column =
    when(isOutCol, lit(outside.south) + unitCol(1) * lit(outside.north - outside.south))
      .otherwise(lit(inside.south) + unitCol(1) * lit(inside.north - inside.south))

  def lonLat(id: Long): (Double, Double) = {
    val b = if (isOutside(id)) outside else inside
    (b.west + unit(id, 0) * (b.east - b.west), b.south + unit(id, 1) * (b.north - b.south))
  }
}

/** Driver-side copy of the seeded corpus geometry: the inputs every
  * brute-force check runs against, built straight from `DocCorpus`. */
final class CorpusPoints(val seed: Long, val n: Int) {
  val lon = new Array[Double](n)
  val lat = new Array[Double](n)
  locally {
    var i = 0
    while (i < n) {
      val (x, y) = DocCorpus.lonLat(seed, i.toLong)
      lon(i) = x; lat(i) = y
      i += 1
    }
  }
  def docId(i: Int): String = f"doc$i%012d"
  def index(docId: String): Int = docId.stripPrefix("doc").toInt

  /** Unit-sphere (x, y, z) of every point, as `GeoEngine.chord2` uses. */
  lazy val xyz: Array[Double] = {
    val a = new Array[Double](3 * n)
    var i = 0
    while (i < n) {
      val (x, y, z) = CorpusPoints.unitXyz(lon(i), lat(i))
      a(3 * i) = x; a(3 * i + 1) = y; a(3 * i + 2) = z
      i += 1
    }
    a
  }

  def chord2(i: Int, x: Double, y: Double, z: Double): Double = {
    val dx = xyz(3 * i) - x; val dy = xyz(3 * i + 1) - y; val dz = xyz(3 * i + 2) - z
    dx * dx + dy * dy + dz * dz
  }
}

object CorpusPoints {
  def unitXyz(lon: Double, lat: Double): (Double, Double, Double) = {
    val cl = math.cos(math.toRadians(lat))
    (cl * math.cos(math.toRadians(lon)), cl * math.sin(math.toRadians(lon)),
      math.sin(math.toRadians(lat)))
  }

  /** DocCorpus's hotspot centres; each draws points within +-0.5 degrees. */
  val hotspots: Seq[(Double, Double)] = Seq((139.69, 35.68), (-74.00, 40.71),
    (2.35, 48.85), (77.21, 28.61), (-46.63, -23.55), (151.21, -33.87))

  /** Index in `hotspots` of the box holding the point, or -1. */
  def hotspotOf(lon: Double, lat: Double): Int =
    hotspots.indexWhere { case (x, y) => math.abs(lon - x) <= 0.5 && math.abs(lat - y) <= 0.5 }

  def inHotspot(lon: Double, lat: Double): Boolean = hotspotOf(lon, lat) >= 0
}

/** Writer for a single-subgrid NTv2 `.gsb` file, built from the published
  * layout: 11 overview records and 11 subgrid records of 16 bytes (8-byte
  * label, 8-byte value), then one node per 16 bytes (float32 latitude
  * shift, longitude shift, and their two accuracies, in arc-seconds,
  * longitude positive west), rows south to north and each row east to
  * west, then an END record.  Every byte is synthesized here. */
object Ntv2 {
  /** `shift(lon, lat)` gives (dLat, dLon) in arc-seconds, east positive.
    * Returns the bytes written. */
  def write(file: java.io.File, extent: Box, stepDeg: Double,
            shift: (Double, Double) => (Double, Double)): Long = {
    val cols = math.round((extent.east - extent.west) / stepDeg).toInt + 1
    val rows = math.round((extent.north - extent.south) / stepDeg).toInt + 1
    val buf = ByteBuffer.allocate(16 * (11 + 11 + cols * rows + 1))
      .order(ByteOrder.LITTLE_ENDIAN)
    def label(s: String): Unit = buf.put(s.padTo(8, ' ').getBytes("US-ASCII"), 0, 8)
    def int(s: String, v: Int): Unit = { label(s); buf.putInt(v); buf.putInt(0) }
    def text(s: String, v: String): Unit = { label(s); label(v) }
    def dbl(s: String, v: Double): Unit = { label(s); buf.putDouble(v) }
    int("NUM_OREC", 11); int("NUM_SREC", 11); int("NUM_FILE", 1)
    text("GS_TYPE", "SECONDS"); text("VERSION", "NTv2.0")
    text("SYSTEM_F", "SYNTH_F"); text("SYSTEM_T", "SYNTH_T")
    dbl("MAJOR_F", 6378137.0); dbl("MINOR_F", 6356752.314)
    dbl("MAJOR_T", 6378137.0); dbl("MINOR_T", 6356752.314)
    text("SUB_NAME", "SYNTH"); text("PARENT", "NONE")
    text("CREATED", "20260101"); text("UPDATED", "20260101")
    dbl("S_LAT", extent.south * 3600); dbl("N_LAT", extent.north * 3600)
    dbl("E_LONG", -extent.east * 3600); dbl("W_LONG", -extent.west * 3600)
    dbl("LAT_INC", stepDeg * 3600); dbl("LONG_INC", stepDeg * 3600)
    int("GS_COUNT", cols * rows)
    for (r <- 0 until rows; c <- 0 until cols) {
      val lon = extent.east - c * stepDeg
      val lat = extent.south + r * stepDeg
      val (dLat, dLon) = shift(lon, lat)
      buf.putFloat(dLat.toFloat).putFloat((-dLon).toFloat)
        .putFloat(0.01f).putFloat(0.01f)
    }
    label("END"); buf.putLong(0L)
    file.getParentFile.mkdirs()
    java.nio.file.Files.write(file.toPath, buf.array())
    buf.capacity().toLong
  }
}
