package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.geo.engine.{GeoEngine, SpatialStats}
import graft.geo.synth.DocCorpus

class GeoEngineSpec extends AnyFunSuite with BeforeAndAfterAll {
  @transient private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("geo-engine-spec")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def corpus(n: Long, parts: Int) =
    DocCorpus.generate(spark, n, seed = 42, parts = parts).toDF()

  test("corpus is deterministic and partition-count independent") {
    val h4 = DocCorpus.spanChecksum(corpus(2000, 4))
    val h13 = DocCorpus.spanChecksum(corpus(2000, 13))
    assert(h4 == h13)
  }

  test("geo-tag extraction preserves the span sequence and parses coords") {
    val docs = corpus(500, 3)
    val withGeo = GeoEngine.withGeoTag(docs)
    // span invariant: spans column byte-identical before/after
    assert(DocCorpus.spanChecksum(docs) == DocCorpus.spanChecksum(withGeo))
    // every doc has a parseable geo-tag matching the generator
    val rows = withGeo.select("doc_id", "lon", "lat").collect()
    assert(rows.length == 500)
    rows.foreach { r =>
      val id = r.getString(0).stripPrefix("doc").toLong
      val (lon, lat) = DocCorpus.lonLat(42, id)
      assert(r.getDouble(1) == lon && r.getDouble(2) == lat,
        s"doc $id geo mismatch")
    }
  }

  test("geo-tag extraction edges: no media span, no tag, malformed numerics") {
    val sp = spark; import sp.implicits._
    val spans = Seq(
      ("d_none", Seq[Option[String]]()),
      ("d_nulls", Seq[Option[String]](None, None)),
      ("d_notag", Seq(Option("img://a"))),
      ("d_short", Seq(Option("img://a?geo=35.5"))),
      ("d_bad", Seq(Option("img://a?geo=x,9.25"))),
      ("d_ok", Seq(None, Option("img://a?geo=-12.5,139.75"), Option("img://b?geo=1,2")))
    ).toDF("doc_id", "refs")
      .select(col("doc_id"), transform(col("refs"), r =>
        struct(lit("s").as("kind"), lit(null).cast("string").as("text"),
          r.as("media_ref"), lit(0).as("offset"))).as("spans"))
    val out = GeoEngine.withGeoTag(spans)
      .select("doc_id", "lat", "lon").collect()
      .map(r => r.getString(0) ->
        (Option(r.get(1)).map(_.asInstanceOf[Double]),
         Option(r.get(2)).map(_.asInstanceOf[Double]))).toMap
    assert(out("d_none") == (None, None))
    assert(out("d_nulls") == (None, None))
    assert(out("d_notag") == (None, None))
    assert(out("d_short") == (Some(35.5), None))
    assert(out("d_bad") == (None, Some(9.25)))
    // first non-null ref wins; the later ref is ignored
    assert(out("d_ok") == (Some(-12.5), Some(139.75)))
  }

  test("tile assignments are bit-for-bit identical across parallelism") {
    def assignments(parts: Int, shuffle: Int): String = {
      val s2 = spark.newSession()
      s2.conf.set("spark.sql.shuffle.partitions", shuffle)
      val docs = DocCorpus.generate(s2, 3000, 42, parts).toDF()
      val t = GeoEngine.tiled(GeoEngine.withGeoTag(docs), 8)
      GeoEngine.canonicalChecksum(t, Seq("doc_id", "cell"))
    }
    assert(assignments(parts = 3, shuffle = 3) == assignments(parts = 11, shuffle = 11))
  }

  test("tile pyramid equals direct per-level tiling and conserves totals") {
    val pts = GeoEngine.withGeoTag(corpus(3000, 5))
    val pyr = GeoEngine.tilePyramid(pts, minLevel = 2, maxLevel = 6)
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    // every level must equal an independent single-level aggregation
    // (the parent ladder is exactly the per-level encoding)
    for (l <- 2 to 6) {
      val direct = GeoEngine.tileOccupancy(pts, l)
        .collect().map(r => (l, r.getLong(0)) -> r.getLong(1)).toMap
      assert(pyr.view.filterKeys(_._1 == l).toMap == direct, s"level $l")
    }
    // counts are conserved at every level
    for (l <- 2 to 6)
      assert(pyr.collect { case ((`l`, _), n) => n }.sum == 3000L)
  }

  test("geoSample caps each cell at n docs, chosen by content fingerprint") {
    val docs = GeoEngine.withGeoTag(corpus(3000, 4))
      .withColumn("text", concat(lit("doc "), col("doc_id")))
    val out = GeoEngine.geoSample(docs, level = 4, nPerCell = 3)
      .select("doc_id").collect().map(_.getString(0)).toSet
    // oracle: per-cell sort by (fingerprint, id), take 3 — driver-side
    val ranked = GeoEngine.tiled(docs, 4)
      .select(col("doc_id"), col("cell"),
        graft.data.dataops.fingerprint(
          concat(col("text"), lit(" "), col("doc_id"))).as("fp"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val expected = ranked.groupBy(_._2).values.flatMap(g =>
      g.sortBy(x => (x._3, x._1)).take(3)).map(_._1).toSet
    assert(expected.size < 3000, "cap must bind on the hotspot corpus")
    assert(out == expected)
    // and the cap holds per cell by construction
    val perCell = ranked.filter(x => out(x._1)).groupBy(_._2).values.map(_.size)
    assert(perCell.max <= 3)
  }

  test("PIP join matches per-row evaluation of the same predicate") {
    val docs = GeoEngine.withGeoTag(corpus(3000, 4))
    // box around hotspot 1 (Tokyo-ish) and a triangle around hotspot 2
    val polys = Seq(
      GeoEngine.Polygon("box_tokyo",
        Array(139.0, 35.2, 140.4, 35.2, 140.4, 36.2, 139.0, 36.2)),
      GeoEngine.Polygon("tri_ny",
        Array(-74.6, 40.2, -73.4, 40.2, -74.0, 41.3)))
    val joined = GeoEngine.pipJoin(spark, docs, polys, coverLevel = 6)
      .select("doc_id", "poly_id").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    // oracle: direct scalar evaluation per doc x poly
    val pts = docs.select("doc_id", "lon", "lat").collect()
    val expected = (for {
      r <- pts
      p <- polys
      if graft.geo.expr.PointInPolygonExpr.contains(r.getDouble(1), r.getDouble(2), p.ring)
    } yield (r.getString(0), p.poly_id)).toSet
    assert(expected.nonEmpty, "test polygons caught no points — bad fixture")
    assert(joined == expected)
  }

  test("PIP join cover is complete for continent-sized polygons") {
    val docs = GeoEngine.withGeoTag(corpus(4000, 4))
    // 60x40 degree box: would overflow any fine-level sampled cover
    val big = Seq(GeoEngine.Polygon("bigbox",
      Array(-120.3, -30.2, -60.1, -30.2, -60.1, 10.4, -120.3, 10.4)))
    val joined = GeoEngine.pipJoin(spark, docs, big)
      .select("doc_id").collect().map(_.getString(0)).toSet
    val expected = docs.select("doc_id", "lon", "lat").collect().filter { r =>
      graft.geo.expr.PointInPolygonExpr.contains(
        r.getDouble(1), r.getDouble(2), big.head.ring)
    }.map(_.getString(0)).toSet
    assert(expected.nonEmpty)
    assert(joined == expected, s"missing=${(expected -- joined).size} extra=${(joined -- expected).size}")
  }

  test("PIP join: mixed per-polygon cover levels resolve in one lookup table") {
    val docs = GeoEngine.withGeoTag(corpus(3000, 4))
    // natural cover levels differ: a city-block box covers at a fine
    // level, the continent box at a coarse one — both live in the same
    // level-tagged CoverTable and must both match through the multi-level
    // bit-chop lookup
    val polys = Seq(
      GeoEngine.Polygon("tiny_tokyo",
        Array(139.5, 35.4, 140.1, 35.4, 140.1, 36.0, 139.5, 36.0)),
      GeoEngine.Polygon("bigbox",
        Array(-120.3, -30.2, -60.1, -30.2, -60.1, 10.4, -120.3, 10.4)))
    val pts = docs.select("doc_id", "lon", "lat").collect()
    val expected = (for {
      r <- pts
      p <- polys
      if graft.geo.expr.PointInPolygonExpr.contains(
        r.getDouble(1), r.getDouble(2), p.ring)
    } yield (r.getString(0), p.poly_id)).toSet
    assert(expected.exists(_._2 == "tiny_tokyo") &&
      expected.exists(_._2 == "bigbox"), "fixture must hit both polygons")
    val joined = GeoEngine.pipJoin(spark, docs, polys)
      .select("doc_id", "poly_id").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(joined == expected)
  }

  test("CoverTable lookup: shared cells emit every polygon; misses are null") {
    val cells = graft.geo.cells.CellIndex
    // two polygons covering the same level-6 cell + one at level 3
    val c6 = cells.cellId(10.0, 50.0, 6)
    val c3 = cells.cellId(10.0, 50.0, 3)
    val other6 = cells.cellId(-100.0, -20.0, 6)
    val t = graft.geo.expr.CoverTable(
      Seq((c6, 0), (c6, 1), (c3, 2), (other6, 3)))
    val hit = t.lookup(10.0, 50.0)
    assert(hit != null && hit.toIntArray().toSet == Set(0, 1, 2))
    val miss = t.lookup(60.0, 10.0)
    assert(miss == null)
    val single = t.lookup(-100.0, -20.0)
    assert(single != null && single.toIntArray().toSeq == Seq(3))

    // a random multi-level table: every key is found at its index; an
    // absent id is not, be it a key with only its level tag changed, a
    // Morton neighbour of a key, or any other long
    val rnd = new scala.util.Random(11)
    def randomPoint() = (rnd.nextDouble() * 360 - 180, rnd.nextDouble() * 180 - 90)
    val entries = for (i <- 0 until 3000) yield {
      val (lon, lat) = randomPoint()
      (cells.cellId(lon, lat, 2 + rnd.nextInt(cells.MaxUsableLevel - 1)), i)
    }
    val big = graft.geo.expr.CoverTable(entries)
    val keys = big.keys.toSet
    assert(big.levels.length > 20 && keys.size > 2000)
    big.keys.zipWithIndex.foreach { case (c, j) => assert(big.indexOf(c) == j, c) }
    val absent = big.keys.toSeq.flatMap { c =>
      val level = cells.levelOf(c)
      Seq((c & ~0x3FL) | ((level + 1) % 64), (c & ~0x3FL) | ((level + 63) % 64),
        c + (1L << 6), c - (1L << 6))
    } ++ Seq.fill(3000)(rnd.nextLong()) ++ Seq(0L, -1L, Long.MinValue, Long.MaxValue)
    for (c <- absent if !keys(c)) assert(big.indexOf(c) == -1, c)
    // lookup returns exactly the entries whose cell holds the point
    for (_ <- 0 until 500) {
      val (lon, lat) = randomPoint()
      val want = entries.collect {
        case (c, i) if cells.cellId(lon, lat, cells.levelOf(c)) == c => i }.toSet
      val got = big.lookup(lon, lat)
      if (want.isEmpty) assert(got == null, (lon, lat))
      else assert(got != null && got.toIntArray().toSet == want, (lon, lat))
    }
  }

  test("a cell id at every level is the bit chop of the finest one") {
    val cells = graft.geo.cells.CellIndex
    val rnd = new scala.util.Random(5)
    val fin = cells.MaxUsableLevel
    for (_ <- 0 until 2000) {
      val (lon, lat) = (rnd.nextDouble() * 360 - 180, rnd.nextDouble() * 180 - 90)
      val finest = cells.cellId(lon, lat, fin)
      val i = cells.iOf(finest) & ((1L << fin) - 1); val j = cells.jOf(finest) & ((1L << fin) - 1)
      assert(cells.encode(cells.faceOfId(finest), i, j, fin) == finest, (lon, lat))
      for (l <- 0 until fin)
        assert(cells.parent(finest, l) == cells.cellId(lon, lat, l), (lon, lat, l))
    }
  }

  test("childrenAt enumerates exactly the Morton block under the parent") {
    val cells = graft.geo.cells.CellIndex
    val parent = cells.cellId(139.7, 35.7, 6)
    val kids = cells.childrenAt(parent, 9)
    assert(kids.length == (1 << 6) && kids.toSet.size == kids.length)
    kids.foreach { k =>
      assert(cells.levelOf(k) == 9 && cells.parent(k, 6) == parent)
    }
    // identity at the same level
    assert(cells.childrenAt(parent, 6).toSeq == Seq(parent))
  }

  test("cell kNN matches brute force when ring covers the distance budget") {
    import graft.geo.cells.CellIndex
    // each kNN rung's radius must select exactly that rung's cover level,
    // or the distance join would not return every point within it
    for (l <- 0 to CellIndex.MaxUsableLevel)
      assert(GeoEngine.distanceJoinLevel(GeoEngine.ringSafeRadius(l, 1)) == l,
        s"level $l")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.get(0).toString, r.get(1).toString, r.getDouble(2), r.getInt(3)))
      .toVector.sorted
    def same(queries: org.apache.spark.sql.DataFrame,
             data: org.apache.spark.sql.DataFrame, k: Int, level: Int,
             queryId: String = "query_id", dataId: String = "data_id") = {
      val knn = rows(GeoEngine.knnJoin(queries, data, k, level, queryId, dataId))
      assert(knn.nonEmpty)
      assert(knn == rows(GeoEngine.knnBruteForce(queries, data, k, queryId, dataId)),
        s"k=$k level=$level")
      knn
    }
    val docs = GeoEngine.withGeoTag(corpus(2000, 4))
    val data = docs.select(col("doc_id").as("data_id"), col("lon"), col("lat"))
    // queries: 30 docs re-used as query points (dense region guaranteed)
    val queries = docs.limit(30)
      .select(col("doc_id").as("query_id"), col("lon"), col("lat"))
    same(queries, data, k = 3, level = 4)
    // annStat's shape: a self-join with k = 2 under other id names
    val pts = docs.select(col("doc_id").as("pid"), col("lon"), col("lat"))
    same(pts.select(col("pid").as("qid"), col("lon"), col("lat")),
      pts.select(col("pid").as("did"), col("lon"), col("lat")),
      k = 2, level = 11, queryId = "qid", dataId = "did")

    val (plantedQ, planted) = plantedClusters()
    val kth = same(plantedQ, planted, k = 3, level = 12)
      .collect { case (q, _, d, 3) => q -> d }.toMap
    def rungOf(d: Double) =
      (12 to 2 by -3).find(l => d <= GeoEngine.ringSafeRadius(l, 1))
    assert(kth.values.map(rungOf).toSet ==
      Set(Some(12), Some(9), Some(6), Some(3), None))
    // LongType ids: a settled query leaves the driver-side pending set by
    // value, or it would be answered again at a coarser rung
    same(plantedQ.withColumn("query_id", xxhash64(col("query_id"))),
      planted.withColumn("data_id", xxhash64(col("data_id"))), k = 3, level = 12)
    // k beyond the data size: every query ends in the residue, short
    val short = same(plantedQ, planted, k = 20, level = 12)
    assert(short.groupBy(_._1).values.map(_.size).toSet == Set(12))
    // no queries: no rows, the contract schema
    val none = GeoEngine.knnJoin(plantedQ.limit(0), planted, 3, 12)
    assert(none.isEmpty)
    assert(none.schema.map(f => (f.name, f.dataType)) ==
      GeoEngine.knnBruteForce(plantedQ, planted, 3).schema
        .map(f => (f.name, f.dataType)))
  }

  /** Planted clusters whose 3rd neighbour lies ~0.33 km, 3.3 km, 22 km
    * and 167 km north of the query, the first two inside the previous
    * rung's radius: with k = 3 from level 12, q1..q4 settle at rungs 12,
    * 9, 6 and 3; q_far has nothing within the coarsest radius and goes
    * to brute force.  Returns (queries, data). */
  private def plantedClusters() = {
    val sp = spark; import sp.implicits._
    val offsets = Seq(Seq(0.001, 0.002, 0.003), Seq(0.001, 0.002, 0.03),
      Seq(0.01, 0.02, 0.2), Seq(0.1, 0.2, 1.5))
    val planted = offsets.zipWithIndex.flatMap { case (dlat, c) =>
      dlat.zipWithIndex.map { case (d, i) => (s"d$c$i", 10.0 * (c + 1), 45.0 + d) }
    }.toDF("data_id", "lon", "lat")
    val plantedQ = ((1 to 4).map(c => (s"q$c", 10.0 * c, 45.0)) :+
      (("q_far", -120.0, -40.0))).toDF("query_id", "lon", "lat")
    (plantedQ, planted)
  }

  test("kNN runs one job per rung and no rung past the last pending query") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
    import scala.jdk.CollectionConverters._
    val sc = spark.sparkContext
    val started = new java.util.concurrent.ConcurrentHashMap[Int, String]
    val ended = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        started.put(e.jobId, Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse(""))
      override def onJobEnd(e: SparkListenerJobEnd): Unit = ended.add(e.jobId)
    }
    val Rung = """knnJoin rung l=(\d+) pending=(\d+)""".r
    // (rung level, pending) per rung, and the job count, of one knnJoin call
    def jobsOf(run: => org.apache.spark.sql.DataFrame) = {
      org.apache.spark.ListenerBusDrain(sc)
      started.clear(); ended.clear()
      val out = run
      org.apache.spark.ListenerBusDrain(sc)
      assert(ended.asScala == started.keySet.asScala, "a job never ended")
      val rungs = started.values.asScala.collect { case Rung(l, n) => (l.toInt, n.toInt) }
        .toSeq.distinct.sortBy(-_._1)
      (out, rungs, started.size)
    }
    val (plantedQ, planted) = plantedClusters()
    sc.addSparkListener(listener)
    sc.setJobDescription("caller")
    try {
      val (all, rungs, jobs) = jobsOf(GeoEngine.knnJoin(plantedQ, planted, 3, 12))
      assert(rungs == Seq(12 -> 5, 9 -> 4, 6 -> 3, 3 -> 2))
      assert(jobs <= 1 + rungs.size, s"$jobs jobs for ${rungs.size} rungs")
      assert(sc.getLocalProperty("spark.job.description") == "caller")
      // q_far is the lazy brute-force residue
      assert(all.collect().map(_.getString(0)).toSet ==
        Set("q1", "q2", "q3", "q4", "q_far"))
      val (one, oneRungs, oneJobs) = jobsOf(
        GeoEngine.knnJoin(plantedQ.where(col("query_id") === "q1"), planted, 3, 12))
      assert(oneRungs == Seq(12 -> 1), "a settled query set ran a coarser rung")
      assert(oneJobs <= 1 + 1)
      assert(one.collect().map(r => (r.getString(1), r.getInt(3))).toSet ==
        Set(("d00", 1), ("d01", 2), ("d02", 3)))
    } finally {
      sc.setJobDescription(null)
      sc.removeSparkListener(listener)
    }
  }

  test("kNN over a repartitioned data side breaks exact kth-place ties by data id") {
    val sp = spark; import sp.implicits._
    // each query's 2nd..4th neighbours share one coordinate (distinct
    // ids, so one exact distance), so k = 3 cuts inside the tie; the ids
    // are inserted out of order over four partitions
    val data = Seq(0.001 -> Seq("a"), 0.002 -> Seq("e", "b", "d", "c"),
        0.004 -> Seq("f"))
      .flatMap { case (dlat, ids) => ids.map((_, dlat)) }
      .flatMap { case (id, dlat) =>
        Seq((s"${id}1", 10.0, 45.0 + dlat), (s"${id}2", -70.0, -30.0 - dlat)) }
      .toDF("data_id", "lon", "lat").repartition(4)
    val queries = Seq(("q1", 10.0, 45.0), ("q2", -70.0, -30.0))
      .toDF("query_id", "lon", "lat")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2), r.getInt(3))).toSet
    val knn = rows(GeoEngine.knnJoin(queries, data, 3, 12))
    assert(knn == rows(GeoEngine.knnBruteForce(queries, data, 3)))
    assert(knn.map(r => (r._1, r._2, r._4)) == Set(("q1", "a1", 1), ("q1", "b1", 2),
      ("q1", "c1", 3), ("q2", "a2", 1), ("q2", "b2", 2), ("q2", "c2", 3)))

    // distances at the scale of the Karney prune's slack, scanned in this
    // order by one task: q3 has four data points on it (distance 0) and
    // the one with the smallest id comes after the heap is full; q4's
    // points lie 0.3 m apart, farthest first; q5's kth-place tie at 2 km
    // has its smaller ids after the heap fills with larger ones, and one
    // point 0.5 um beyond the tie.  Rows with a NaN latitude (at the
    // queries' longitudes, scanned first) are no neighbours.
    val deg = 1 / 111195.0 // degrees of latitude per metre, about
    val fine = (Seq(10.0, 60.0, -150.0, 120.0).map(lon => (s"nan$lon", lon, Double.NaN)) ++
      Seq("z3", "z1", "z2", "z0").map(id => (id, 60.0, -10.0)) ++
      (6 to 1 by -1).map(i => (s"s$i", -150.0, 60.0 + i * 0.3 * deg)) ++
      Seq(("t7", 120.0, 5.0 + 1000 * deg)) ++
      Seq("t9", "t8", "t0", "t5", "t2").map(id =>
        (id, 120.0, 5.0 + 2000 * deg + (if (id == "t0") 0.5e-6 * deg else 0.0))))
      .toDF("data_id", "lon", "lat").coalesce(1)
    val fineQ = Seq(("q3", 60.0, -10.0), ("q4", -150.0, 60.0), ("q5", 120.0, 5.0))
      .toDF("query_id", "lon", "lat")
    val near = rows(GeoEngine.knnJoin(fineQ, fine, 3, 12))
    assert(near == rows(GeoEngine.knnBruteForce(fineQ, fine, 3)))
    assert(near.map(r => (r._1, r._2, r._4)) == Set(("q3", "z0", 1), ("q3", "z1", 2),
      ("q3", "z2", 3), ("q4", "s1", 1), ("q4", "s2", 2), ("q4", "s3", 3),
      ("q5", "t7", 1), ("q5", "t2", 2), ("q5", "t5", 3)))
    assert(near.filter(_._1 == "q3").map(_._3) == Set(0.0))
    val withNan = fine.unionByName(data)
    val all = rows(GeoEngine.knnJoin(queries.unionByName(fineQ), withNan, 3, 12))
    assert(all == knn ++ near)
    assert(all == rows(GeoEngine.knnBruteForce(queries.unionByName(fineQ), withNan, 3)))
  }

  test("kNN rung counters: every row is banded or probed; Karney <= in-cap <= hits") {
    val (plantedQ, planted) = plantedClusters()
    val (answer, rungs) = GeoEngine.knnLadder(plantedQ, planted, 3, 12, "query_id", "data_id")
    assert(rungs.map(r => (r.level, r.pending, r.settled)) ==
      Seq((12, 5, 1), (9, 4, 1), (6, 3, 1), (3, 2, 1)))
    // a scan of 12 rows never pays for a bigger step
    assert(rungs.map(_.next) == Seq(Some(9), Some(6), Some(3), None))
    val n = planted.count()
    for (r <- rungs) {
      assert(r.rows == n && r.banded + r.probed == r.rows, r)
      assert(r.solves <= r.inCap && r.inCap <= r.hits, r)
    }
    // at level 12 the band (a few hundred metres of latitude around 45
    // and -40 degrees) drops the clusters' farther points
    assert(rungs.head.banded > 0 && rungs.head.solves > 0)
    assert(answer.count() == 15)
  }

  test("kNN skips a rung whose expected pairs cost less than its scan") {
    // 6000 background rows far south of the planted clusters: q4's three
    // neighbours lie 11, 22 and 167 km north of it.  After rung 12 q4
    // holds no pair, and rung 6's expected 1 x 4^6 = 4096 pairs are fewer
    // than the 6012 rows scanned (rung 3's 4^9 are not), so rung 9 is
    // skipped; after rung 6 it holds two, and rung 3 is the coarsest.
    val (plantedQ, planted) = plantedClusters()
    val background = spark.range(6000).select(
      concat(lit("bg"), col("id").cast("string")).as("data_id"),
      (col("id") % 100 * 0.7 - 170).as("lon"), (floor(col("id") / 100) * 0.5 - 60).as("lat"))
    val data = planted.unionByName(background)
    val q4 = plantedQ.where(col("query_id") === "q4")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2), r.getInt(3))).toSet
    val (answer, rungs) = GeoEngine.knnLadder(q4, data, 3, 12, "query_id", "data_id")
    assert(rungs.map(r => (r.level, r.pending, r.settled, r.next, r.est)) ==
      Seq((12, 1, 0, Some(6), 4096L), (6, 1, 0, Some(3), 128L), (3, 1, 1, None, 0L)))
    assert(rungs.forall(_.rows == 6012), rungs)
    assert(rows(answer).map(r => (r._2, r._4)) == Set(("d30", 1), ("d31", 2), ("d32", 3)))
    assert(rows(answer) == rows(GeoEngine.knnBruteForce(q4, data, 3)))
    // all planted queries: their pending heaps weigh too much for a skip
    assert(rows(GeoEngine.knnJoin(plantedQ, data, 3, 12)) ==
      rows(GeoEngine.knnBruteForce(plantedQ, data, 3)))
  }

  test("kNN never returns a data row with a null coordinate") {
    val sp = spark; import sp.implicits._
    val (plantedQ, planted) = plantedClusters()
    val nulls = Seq[(String, Option[Double], Option[Double])](
      ("n_lon", None, Some(45.0)), ("n_lat", Some(10.0), None), ("n_both", None, None),
      ("n_lon4", None, Some(45.0004))).toDF("data_id", "lon", "lat")
    val data = planted.select(col("data_id"), col("lon"), col("lat")).unionByName(nulls)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2), r.getInt(3))).toSet
    val knn = rows(GeoEngine.knnJoin(plantedQ, data, 3, 12))
    assert(knn.map(_._2).intersect(Set("n_lon", "n_lat", "n_both", "n_lon4")).isEmpty)
    assert(knn == rows(GeoEngine.knnJoin(plantedQ,
      data.where(col("lon").isNotNull && col("lat").isNotNull), 3, 12)))
    assert(knn == rows(GeoEngine.knnJoin(plantedQ, planted, 3, 12)))
  }

  test("neighborhood coverage guarantee holds across cube-face boundaries") {
    // knnJoin's settling rule and distanceJoin's cover both assume: any
    // point within ringSafeRadius(level, r) of a query lies in a cell of
    // neighborhood(cellOf(query), r).  On one face that is plain grid
    // geometry; across a face edge the gnomonic warp distorts the
    // adjacent face's grid and the off-face cells are found by
    // center-point re-projection, so this pins that ringSafeRadius's 0.5
    // safety factor really does absorb the warp (an exhaustive 14.5M-probe
    // sweep over face-edge cells at levels 5/8/11, rings 1-4 found zero
    // violations; this is the fast regression net).  Probe points hugging
    // the +/-45-degree face-edge meridians, walk the full azimuth circle
    // at 0.999x the guaranteed radius, and require every landing cell to
    // be in the neighborhood.
    import graft.geo.cells.CellIndex
    val g = graft.geo.geodesic.Geodesic.WGS84
    val rnd = new scala.util.Random(7)
    for (level <- Seq(6, 10); ring <- Seq(1, 2, 3)) {
      val safe = GeoEngine.ringSafeRadius(level, ring)
      var crossing = 0
      var attempts = 0
      while (crossing < 30 && attempts < 4000) {
        attempts += 1
        val lon = (rnd.nextInt(8) * 45.0 - 180.0) +
          (rnd.nextDouble() - 0.5) * 4.0 * math.pow(2.0, 6 - level)
        val lat = (rnd.nextDouble() - 0.5) * 176.0
        val c = CellIndex.cellId(lon, lat, level)
        val nb = CellIndex.neighborhood(c, ring)
        val home = CellIndex.faceOfId(c)
        if (nb.exists(CellIndex.faceOfId(_) != home)) {
          crossing += 1
          val nbSet = nb.toSet
          var az = 0
          while (az < 72) {
            val d = g.direct(lat, lon, az * 5.0, safe * 0.999)
            val hit = CellIndex.cellId(d.lon2, d.lat2, level)
            assert(nbSet.contains(hit),
              s"level=$level ring=$ring from ($lon,$lat) az=${az * 5} " +
                s"landed in cell $hit outside the ${nb.length}-cell neighborhood")
            az += 1
          }
        }
      }
      assert(crossing >= 30,
        s"level=$level ring=$ring: only $crossing face-crossing probes found")
    }
  }

  test("chord prune band keeps meridional-vs-zonal reorder candidates") {
    // regression for the squared-vs-linear band error: the nearest
    // GEODESIC neighbor of (0,0) is B on the meridian (11,101.7 m), but
    // B's unit-sphere chord^2 is 1.0080x A's — inside the true (a/b)^6
    // reorder band, outside the old (a/b)^2-as-squared 1.0068 cut, so
    // the old prune returned the farther zonal point A as rank 1
    val s = spark; import s.implicits._
    val queries = Seq(("q", 0.0, 0.0)).toDF("query_id", "lon", "lat")
    val data = Seq(("A", 0.1, 0.0), ("B", 0.0, 0.1004))
      .toDF("data_id", "lon", "lat")
    val top = GeoEngine.knnBruteForce(queries, data, k = 1).collect()
    assert(top.length == 1 && top(0).getString(1) == "B",
      s"rank-1 was ${top(0).getString(1)}, expected the meridional point B")
    val g = graft.geo.geodesic.Geodesic.WGS84
    assert(g.inverse(0.1004, 0.0, 0.0, 0.0).s12 <
           g.inverse(0.0, 0.1, 0.0, 0.0).s12) // sanity: B really is nearer
  }

  test("distance join matches the brute-force geodesic range filter") {
    import graft.geo.expr.geo
    val docs = GeoEngine.withGeoTag(corpus(2000, 4))
    val data = docs.select(col("doc_id").as("data_id"), col("lon"), col("lat"))
    val queries = docs.limit(25)
      .select(col("doc_id").as("query_id"), col("lon"), col("lat"))
    val radius = 250000.0 // 250 km
    val got = GeoEngine.distanceJoin(queries, data, radius)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    val d = data.select(col("data_id"),
      col("lon").as("d_lon"), col("lat").as("d_lat"))
    val brute = queries
      .select(col("query_id"), col("lon").as("q_lon"), col("lat").as("q_lat"))
      .crossJoin(d)
      .where(geo.geodDistance(col("q_lon"), col("q_lat"),
        col("d_lon"), col("d_lat")) <= radius)
      .select("query_id", "data_id")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(brute.nonEmpty, "clustered corpus must have in-range pairs")
    assert(got == brute,
      s"missing=${(brute -- got).size} extra=${(got -- brute).size}")
  }

  test("chord-metric distance join equals the cross-join predicate") {
    val docs = GeoEngine.withGeoTag(corpus(1500, 4))
    val data = docs.select(col("doc_id").as("data_id"), col("lon"), col("lat"))
    val queries = docs.limit(20)
      .select(col("doc_id").as("query_id"), col("lon"), col("lat"))
    val maxChord2 = 0.002
    val got = GeoEngine.distanceJoinChord(queries, data, maxChord2)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    val d = data.select(col("data_id"),
      col("lon").as("d_lon"), col("lat").as("d_lat"))
    val brute = queries
      .select(col("query_id"), col("lon").as("q_lon"), col("lat").as("q_lat"))
      .crossJoin(d)
      .where(GeoEngine.chord2(col("q_lon"), col("q_lat"),
        col("d_lon"), col("d_lat")) <= maxChord2)
      .select("query_id", "data_id")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(brute.nonEmpty)
    assert(got == brute,
      s"missing=${(brute -- got).size} extra=${(got -- brute).size}")
  }

  test("every chord-cover entry point rejects a bound past the cell-cover guarantee") {
    val sp = spark; import sp.implicits._
    val pts = Seq((1L, "a", 0L, 0.0, 0.0), (2L, "b", 60L, 1.0, 1.0))
      .toDF("pt_id", "traj_id", "ts", "lon", "lat")
    // a 2,500 km bound needs a 2,550 km cover; level 0 guarantees ~2,119 km
    val meters = 2.5e6
    val c2 = GeoEngine.maxChord2For(meters)
    val guarantee = f"cell-cover guarantee (${GeoEngine.ringSafeRadius(0, 1)}%.0f m)"
    val calls: Seq[(String, () => Any)] = Seq(
      "distanceJoinChord" -> (() => GeoEngine.distanceJoinChord(
        pts.select(col("pt_id").as("query_id"), col("lon"), col("lat")),
        pts.select(col("pt_id").as("data_id"), col("lon"), col("lat")), c2)),
      "hausdorffJoin" -> (() => GeoEngine.hausdorffJoin(pts, meters)),
      "frechetJoin" -> (() => GeoEngine.frechetJoin(pts, meters)),
      "colocationJoinChord" -> (() => GeoEngine.colocationJoinChord(
        pts, "pt_id", "traj_id", c2, tauSeconds = 60L)),
      "dbscanChord" -> (() => GeoEngine.dbscanChord(pts, "pt_id", c2, 2)),
      "lEnvelope" -> (() => SpatialStats.lEnvelope(pts, Seq(meters), 1e12)))
    for ((name, call) <- calls) {
      val e = intercept[IllegalArgumentException](call())
      assert(e.getMessage.contains(guarantee), s"$name: ${e.getMessage}")
    }
  }

  test("hausdorffJoin equals the brute-force set distance") {
    val sp = spark; import sp.implicits._
    // 4 base routes; each with a near copy (sub-km jitter, inside tau)
    // and a far copy (~80 km off, outside tau); irregular coords so
    // trajectories straddle cell boundaries
    val base = Seq.tabulate(4) { b =>
      Seq.tabulate(8)(i =>
        (10.0 + b * 3.0 + i * 0.21, 45.0 + (i % 3) * 0.17 + b * 1.9))
    }
    val trajs: Seq[(Long, Seq[(Double, Double)])] =
      base.zipWithIndex.flatMap { case (route, b) =>
        Seq((b * 10L, route),
          (b * 10L + 1, route.map { case (lo, la) => (lo + 0.008, la - 0.006) }),
          (b * 10L + 2, route.map { case (lo, la) => (lo + 0.9, la + 0.7) }))
      }
    val pts = trajs.flatMap { case (id, ps) => ps.map(p => (id, p._1, p._2)) }
      .toDF("traj_id", "lon", "lat")
    val tau = 20000.0
    val maxC2 = GeoEngine.maxChord2For(tau)
    def xyz(p: (Double, Double)) = {
      val (l, f) = (math.toRadians(p._1), math.toRadians(p._2))
      (math.cos(f) * math.cos(l), math.cos(f) * math.sin(l), math.sin(f))
    }
    def cd(a: (Double, Double), b: (Double, Double)) = {
      val (x1, y1, z1) = xyz(a); val (x2, y2, z2) = xyz(b)
      (x1 - x2) * (x1 - x2) + (y1 - y2) * (y1 - y2) + (z1 - z2) * (z1 - z2)
    }
    def um(c: Double) = math.floor(2.0 * 6378137.0 *
      math.asin(math.sqrt(c) / 2.0) * 1e6 + 0.5).toLong
    // reference: full bipartite minima; pair passes iff EVERY point of
    // both sides has its min chord^2 within the bound (== H <= tau)
    val byId = trajs.toMap
    val ref = (for {
      (i, a) <- trajs; (j, b) <- trajs if i < j
      minsA = a.map(p => b.map(q => cd(p, q)).min)
      minsB = b.map(p => a.map(q => cd(p, q)).min)
      if minsA.forall(_ <= maxC2) && minsB.forall(_ <= maxC2)
    } yield (i, j) -> math.max(minsA.map(um).max, minsB.map(um).max)).toMap
    val got = GeoEngine.hausdorffJoin(pts, tau)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(ref.keySet == Set.tabulate(4)(b => (b * 10L, b * 10L + 1)).toSet,
      "exactly the near copies pair up")
    assert(got == ref, s"missing=${ref.keySet -- got.keySet} " +
      s"extra=${got.keySet -- ref.keySet}")
    assert(byId.nonEmpty)
    // partitioning independence of the exact micrometer output
    val got7 = GeoEngine.hausdorffJoin(pts.repartition(7), tau)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got7 == got)
  }

  test("frechetJoin equals the brute-force DP; order-aware vs Hausdorff") {
    val sp = spark; import sp.implicits._
    // same route families as the Hausdorff test, now time-ordered; one
    // extra pair: a route vs its REVERSE (same point set, so Hausdorff
    // pairs them but Frechet must not)
    val base = Seq.tabulate(3) { b =>
      Seq.tabulate(8)(i =>
        (10.0 + b * 3.0 + i * 0.21, 45.0 + (i % 3) * 0.17 + b * 1.9))
    }
    val trajs: Seq[(Long, Seq[(Double, Double)])] =
      base.zipWithIndex.flatMap { case (route, b) =>
        Seq((b * 10L, route),
          (b * 10L + 1, route.map { case (lo, la) => (lo + 0.008, la - 0.006) }),
          (b * 10L + 2, route.reverse))
      }
    val pts = trajs.flatMap { case (id, ps) =>
      ps.zipWithIndex.map { case (p, i) =>
        (id, java.sql.Timestamp.valueOf(f"2024-01-01 00:${i}%02d:00"),
          p._1, p._2)
      }
    }.toDF("traj_id", "ts", "lon", "lat")
    val tau = 20000.0
    val maxC2 = GeoEngine.maxChord2For(tau)
    def xyz(p: (Double, Double)) = {
      val (l, f) = (math.toRadians(p._1), math.toRadians(p._2))
      (math.cos(f) * math.cos(l), math.cos(f) * math.sin(l), math.sin(f))
    }
    def cd(a: (Double, Double), b: (Double, Double)) = {
      val (x1, y1, z1) = xyz(a); val (x2, y2, z2) = xyz(b)
      (x1 - x2) * (x1 - x2) + (y1 - y2) * (y1 - y2) + (z1 - z2) * (z1 - z2)
    }
    def frechet(a: Seq[(Double, Double)], b: Seq[(Double, Double)]): Double = {
      val memo = Array.fill(a.size, b.size)(-1.0)
      def go(i: Int, j: Int): Double = {
        if (memo(i)(j) >= 0) memo(i)(j)
        else {
          val d = cd(a(i), b(j))
          val v =
            if (i == 0 && j == 0) d
            else if (i == 0) math.max(go(0, j - 1), d)
            else if (j == 0) math.max(go(i - 1, 0), d)
            else math.max(math.min(math.min(go(i - 1, j - 1), go(i - 1, j)),
              go(i, j - 1)), d)
          memo(i)(j) = v; v
        }
      }
      go(a.size - 1, b.size - 1)
    }
    def um(c: Double) = math.floor(2.0 * 6378137.0 *
      math.asin(math.sqrt(c) / 2.0) * 1e6 + 0.5).toLong
    val ref = (for {
      (i, a) <- trajs; (j, b) <- trajs if i < j
      f = frechet(a, b) if f <= maxC2
    } yield (i, j) -> um(f)).toMap
    val got = GeoEngine.frechetJoin(pts, tau)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got == ref, s"missing=${ref.keySet -- got.keySet} " +
      s"extra=${got.keySet -- ref.keySet}")
    // the jittered twin pairs; the reversed copy does NOT, though its
    // point set is identical (Hausdorff DOES pair it)
    for (b <- 0 until 3) {
      assert(got.contains((b * 10L, b * 10L + 1)), s"twin $b")
      assert(!got.contains((b * 10L, b * 10L + 2)), s"reverse $b")
    }
    val haus = GeoEngine.hausdorffJoin(
        pts.select(col("traj_id"), col("lon"), col("lat")), tau)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    for (b <- 0 until 3)
      assert(haus.contains((b * 10L, b * 10L + 2)), s"haus reverse $b")
    // Frechet dominates Hausdorff wherever both pair
    for ((k, f) <- got if haus.contains(k)) assert(f >= haus(k))
    // partitioning independence
    val got7 = GeoEngine.frechetJoin(pts.repartition(7), tau)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got7 == got)
  }

  test("raster-vector stats are exact and partition independent") {
    val docs = GeoEngine.withGeoTag(corpus(2000, 4))
    val level = 3
    // raster: deterministic value per cell over the full face set
    val raster = GeoEngine.tiled(docs, level).select("cell").distinct()
      .withColumn("value", (col("cell") % 97).cast("double"))
    val stats = GeoEngine.rasterVectorStats(docs, raster, level)
    val total = stats.agg(sum("n_docs")).head.getLong(0)
    assert(total == 2000) // every doc lands in exactly one tile
    val h1 = GeoEngine.canonicalChecksum(stats, Seq("cell", "n_docs"))
    val h2 = GeoEngine.canonicalChecksum(
      GeoEngine.rasterVectorStats(docs.repartition(7), raster, level),
      Seq("cell", "n_docs"))
    assert(h1 == h2)
  }

  test("salted join equals plain join on skewed data") {
    val docs = GeoEngine.tiled(GeoEngine.withGeoTag(corpus(3000, 4)), 4)
    val dim = docs.select("cell").distinct().withColumn("w", col("cell") % 7)
    val hot = GeoEngine.hotCells(GeoEngine.withGeoTag(corpus(3000, 4)), 4,
      hotFraction = 0.05, sampleFraction = 0.5)
    assert(hot.nonEmpty, "clustered corpus must have hot cells")
    val salted = GeoEngine.saltedCellJoin(docs, dim, "doc_id", hot, salt = 4)
    val plain = docs.join(dim, "cell")
    assert(GeoEngine.canonicalChecksum(salted, Seq("doc_id", "w")) ==
      GeoEngine.canonicalChecksum(plain, Seq("doc_id", "w")))
  }

  test("checkpointStage computes once and resumes from disk with lineage") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    var computes = 0
    def stage(): org.apache.spark.sql.DataFrame = {
      computes += 1
      GeoEngine.tileOccupancy(GeoEngine.withGeoTag(corpus(1000, 3)), 6)
    }
    val first = GeoEngine.checkpointStage(spark, dir, stage _, Seq("cell", "n_docs"))
    val h1 = GeoEngine.canonicalChecksum(first, Seq("cell", "n_docs"))
    val second = GeoEngine.checkpointStage(spark, dir, stage _, Seq("cell", "n_docs"))
    val h2 = GeoEngine.canonicalChecksum(second, Seq("cell", "n_docs"))
    assert(computes == 1, "resume must not recompute")
    assert(h1 == h2)
    val lin = spark.read.parquet(s"$dir/lineage")
    assert(lin.agg(sum("n_rows")).head.getLong(0) == first.count())
  }

  test("geodWaypoints through codegen equals the JVM-direct line API") {
    import graft.geo.expr.geo
    val geod = graft.geo.geodesic.Geodesic.WGS84
    val docs = GeoEngine.withGeoTag(corpus(200, 3))
      .select(col("doc_id"), col("lon"), col("lat"))
    // pair each doc with a fixed far point, densify into 6 segments
    val wp = docs
      .withColumn("w", geo.geodWaypoints(col("lon"), col("lat"),
        lit(144.42486788888888), lit(-37.95103341666667), n = 6))
      .select(col("doc_id"), col("lon"), col("lat"), posexplode(col("w")))
      .collect()
    assert(wp.length == 200 * 7)
    wp.foreach { r =>
      val lon1 = r.getDouble(1); val lat1 = r.getDouble(2)
      val i = r.getInt(3); val s = r.getStruct(4)
      val line = geod.inverseLine(lat1, lon1, -37.95103341666667, 144.42486788888888)
      val p = line.position(line.s13 * i / 6)
      assert(math.abs(s.getDouble(0) - p.lon2) < 1e-12)
      assert(math.abs(s.getDouble(1) - p.lat2) < 1e-12)
      assert(math.abs(s.getDouble(2) - p.azi2) < 1e-12)
    }
  }

  test("geo.crsTransform: factory planner kernel through codegen equals JVM-direct") {
    import graft.geo.expr.geo
    // grid + Helmert fallback dispatch THROUGH the Catalyst path — the
    // planner kernel (with its grid arrays) must serialize into the
    // generated code references intact
    val dst = "+proj=longlat +datum=WGS84"
    val src = s"+proj=longlat +ellps=GRS80 +nadgrids=@${GridFixtures.Hgrid.name}" +
      " +towgs84=100,0,0"
    val k = graft.geo.proj.OperationFactory.crsToCrs(src, dst)
    // the in-grid point takes the grid, not the Helmert fallback: the
    // grid arrays really are in the kernel that goes through codegen
    val helmert = graft.geo.proj.OperationFactory.crsToCrs(
      "+proj=longlat +ellps=GRS80 +towgs84=100,0,0", dst)
    val (viaGrid, viaHelmert) = (Array(5.5, 53.5, 0.0, 0.0), Array(5.5, 53.5, 0.0, 0.0))
    assert(k.fwd(viaGrid) && helmert.fwd(viaHelmert))
    assert(!viaGrid.take(2).sameElements(viaHelmert.take(2)),
      "in-grid point took the Helmert fallback")
    val sp = spark; import sp.implicits._
    val pts = Seq((5.5, 53.5), (20.0, 20.0), (5.1, 52.2), (-40.0, 10.0))
      .toDF("lon", "lat")
    val out = pts.withColumn("o",
        geo.crsTransform(src, dst, col("lon"), col("lat")))
      .select(col("lon"), col("lat"),
        col("o").getField("x"), col("o").getField("y")).collect()
    out.foreach { r =>
      val v = Array(r.getDouble(0), r.getDouble(1), 0.0, 0.0)
      assert(k.fwd(v))
      assert(v(0) == r.getDouble(2) && v(1) == r.getDouble(3),
        s"codegen vs direct mismatch at ${r.getDouble(0)},${r.getDouble(1)}")
    }
  }
}
