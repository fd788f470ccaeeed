package graft.geo.synth

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** One span of an interleaved document (BASELINE.json input_hint schema).
  * `offset` is strictly increasing within a row — the span-sequence
  * invariant (kind, text, media_ref, order) every transform must keep. */
final case class Span(kind: String, text: String, media_ref: String, offset: Int)
final case class Doc(doc_id: String, spans: Array[Span])

/** Deterministic generator of the interleaved text+media corpus.
  *
  * Layout mirrors an Iceberg table of (doc_id string, spans array<struct>);
  * in this sandbox it materializes as partitioned parquet (the Iceberg
  * runtime jar is not on the classpath — the write path is
  * format-agnostic: swap `.parquet` for `.format("iceberg")` on a cluster).
  *
  * Coordinates are a seeded mixture of uniform-sphere points and Zipfian
  * hotspot clusters (to exercise join skew), rounded to 1e-7 degrees.
  * Everything is a pure function of (seed, row id): any worker, any
  * partitioning, any scale produces identical rows — the basis for the
  * bit-for-bit reproducibility requirement.
  */
object DocCorpus {

  /** Hotspot centers (lon, lat, weight): a few megacity-like clusters with
    * Zipf-ish weights plus a uniform background. */
  private val hotspots: Array[(Double, Double, Double)] = Array(
    (139.69, 35.68, 0.30), // dense cluster 1
    (-74.00, 40.71, 0.15), // dense cluster 2
    (2.35, 48.85, 0.10),
    (77.21, 28.61, 0.08),
    (-46.63, -23.55, 0.07),
    (151.21, -33.87, 0.05))
  private val background = 1.0 - hotspots.map(_._3).sum

  /** splitmix64 — the standard 64-bit finalizer; pure, allocation-free. */
  def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  private def unit(h: Long): Double = (h >>> 11).toDouble / (1L << 53).toDouble

  /** Deterministic (lon, lat) for document `id`: hotspot draw or uniform
    * sphere point, rounded to 1e-7 deg. */
  def lonLat(seed: Long, id: Long): (Double, Double) = {
    val r0 = unit(mix(seed ^ id * 31))
    val (lonC, latC, spreadDeg) =
      if (r0 < background) {
        // uniform on the sphere: lon ~ U(-180,180), lat = asin(2u-1)
        val lon = unit(mix(seed ^ id * 131 + 1)) * 360.0 - 180.0
        val lat = math.toDegrees(math.asin(2.0 * unit(mix(seed ^ id * 131 + 2)) - 1.0))
        (lon, lat, 0.0)
      } else {
        var acc = background
        var pick = hotspots.head
        var i = 0
        var done = false
        while (i < hotspots.length && !done) {
          acc += hotspots(i)._3
          if (r0 < acc) { pick = hotspots(i); done = true }
          i += 1
        }
        (pick._1, pick._2, 0.5)
      }
    val dLon = (unit(mix(seed ^ id * 17 + 3)) - 0.5) * 2 * (if (spreadDeg == 0) 0.0 else spreadDeg)
    val dLat = (unit(mix(seed ^ id * 17 + 4)) - 0.5) * 2 * (if (spreadDeg == 0) 0.0 else spreadDeg)
    val lon = math.rint((lonC + dLon) * 1e7) / 1e7
    val lat = math.rint(math.max(-89.99999, math.min(89.99999, latC + dLat)) * 1e7) / 1e7
    (lon, lat)
  }

  private val words = Array("survey", "tile", "datum", "meridian", "ellipsoid",
    "azimuth", "geodesic", "raster", "vector", "cell", "span", "media",
    "corpus", "index", "shard")

  /** Build document `id` — 1..4 text spans interleaved with 1..2 media
    * spans; media_ref carries the geo-tag: `img://<id>?geo=<lat>,<lon>`. */
  def doc(seed: Long, id: Long): Doc = {
    val (lon, lat) = lonLat(seed, id)
    val nText = 1 + (mix(seed ^ id * 7 + 5) & 3).toInt  // 1..4
    val nMedia = 1 + (mix(seed ^ id * 7 + 6) & 1).toInt // 1..2
    val spans = new Array[Span](nText + nMedia)
    var off = 0
    var t = 0; var m = 0; var si = 0
    while (si < spans.length) {
      // deterministic interleave: media at positions where hash is odd
      val pickMedia = m < nMedia &&
        (t >= nText || (mix(seed ^ id * 13 + si) & 1) == 1)
      if (pickMedia) {
        // plain fixed-point (never scientific notation) so the extraction
        // regex and cross-engine parsers see canonical decimal text
        val ref = f"img://${id}_$m?geo=$lat%.7f,$lon%.7f"
        spans(si) = Span("media", null, ref, off)
        off += 1 + (mix(seed ^ id * 19 + si) & 7).toInt
        m += 1
      } else {
        val w0 = words((mix(seed ^ id * 23 + si) % words.length).toInt.abs)
        val w1 = words((mix(seed ^ id * 29 + si) % words.length).toInt.abs)
        // a per-span unique token keeps the corpus near-dup-free (real web
        // text is diverse; a 1000-pattern corpus makes every dedup bucket
        // quadratic and benchmarks the pathology, not the operator)
        val text = s"$w0 $w1 t${mix(seed ^ id * 37 + si) & 0xffffff}"
        spans(si) = Span("text", text, null, off)
        off += text.length + 1
        t += 1
      }
      si += 1
    }
    Doc(f"doc$id%012d", spans)
  }

  /** Distributed deterministic corpus: `n` docs, `parts` partitions. */
  def generate(spark: SparkSession, n: Long, seed: Long = 42L,
               parts: Int = 32): Dataset[Doc] = {
    import spark.implicits._
    spark.range(0, n, 1, parts).map(id => doc(seed, id))
  }

  /** Materialize as an Iceberg-shaped table: parquet partitioned by the
    * level-2 cell prefix of the doc's geo-tag (the partition column an
    * Iceberg PARTITIONED BY (cell_p2) spec would carry), so scans with a
    * cell predicate prune files. */
  def write(spark: SparkSession, n: Long, path: String, seed: Long = 42L,
            parts: Int = 32): Unit = {
    import spark.implicits._
    val ds = generate(spark, n, seed, parts)
      .map { d =>
        val geo = d.spans.find(_.kind == "media").map(_.media_ref).orNull
        val (lat, lon) = parseGeoRef(geo)
        (d.doc_id, d.spans, graft.geo.cells.CellIndex.cellId(lon, lat, 2))
      }
      .toDF("doc_id", "spans", "cell_p2")
    // hash-cluster rows by partition value before the write so each
    // cell_p2 directory gets exactly one file (no tiny-file explosion)
    ds.repartition(col("cell_p2"))
      .write.mode("overwrite").partitionBy("cell_p2").parquet(path)
  }

  def parseGeoRef(ref: String): (Double, Double) = {
    if (ref == null) return (Double.NaN, Double.NaN)
    val i = ref.indexOf("?geo=")
    if (i < 0) return (Double.NaN, Double.NaN)
    val parts = ref.substring(i + 5).split(",")
    (parts(0).toDouble, parts(1).toDouble)
  }

  /** Order-insensitive corpus checksum over the full span structure —
    * equality across two runs/partitionings proves the span-sequence
    * invariant survived (kind, text, media_ref, order). */
  def spanChecksum(docs: DataFrame): String =
    graft.geo.engine.GeoEngine.rowsAndChecksum(
      docs, Seq(col("doc_id"), to_json(col("spans"))))._2
}
