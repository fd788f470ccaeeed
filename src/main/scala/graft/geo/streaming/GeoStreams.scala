package graft.geo.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.geo.expr.geo

/** Structured Streaming layer: the same tiling/occupancy semantics as the
  * batch engine over an unbounded source (`readStream` -> transforms ->
  * `writeStream`), with event-time watermarks for windowed aggregation and
  * typed `flatMapGroupsWithState` for per-cell session state.
  *
  * Scale notes: the windowed aggregate is an incremental shuffle on
  * (window, cell) with state store compaction; watermarks bound state.
  * Per-cell session state is keyed by cell id (LongType) so the state
  * store hashes evenly except for hotspot cells — use a coarser level or
  * sub-key salting for extreme skew. */
object GeoStreams {

  /** Windowed per-tile occupancy over an event stream with
    * (ts, lon, lat, value) — `value` is the per-event measure averaged
    * into `avg_value` — watermarked event-time tumbling windows x cell. */
  def windowedTileOccupancy(events: DataFrame, level: Int,
                            windowDur: String = "1 minute",
                            watermark: String = "2 minutes"): DataFrame =
    events
      .withColumn("cell", geo.cellId(col("lon"), col("lat"), level))
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowDur), col("cell"))
      .agg(count(lit(1)).as("n_events"), avg("value").as("avg_value"))

  /** Streaming exact dedup: keep the first-seen document per 128-bit
    * content fingerprint within the watermark horizon.  The shuffle key is
    * the fingerprint pair, never the text (same contract as the batch
    * `Dedup.exact`); `dropDuplicatesWithinWatermark` keeps the state store
    * bounded — rows whose event time has passed the watermark are evicted,
    * the standard unbounded-stream dedup trade-off (an exact-forever dedup
    * needs an external keyed store, out of engine scope). */
  def streamingDedup(docs: DataFrame, textCol: String = "text",
                     tsCol: String = "ts",
                     watermarkDelay: String = "10 minutes"): DataFrame =
    dedupByFingerprint(docs.withWatermark(tsCol, watermarkDelay), textCol)

  /** Content dedup of an ALREADY-watermarked stream (a watermark may be
    * declared only once per query, so callers chaining stateful stages
    * declare it themselves and share this body). */
  private def dedupByFingerprint(docs: DataFrame, textCol: String): DataFrame =
    docs
      .withColumn("fp", graft.data.dataops.fingerprint(col(textCol)))
      .withColumn("fp2", xxhash64(col(textCol)))
      .dropDuplicatesWithinWatermark("fp", "fp2")
      .drop("fp", "fp2")

  /** Streaming twin of [[graft.data.Dedup.incrementalDedup]]: drop
    * streamed docs whose text already exists in a STATIC prior corpus
    * snapshot.  The snapshot Bloom filter is a plan constant, so the
    * prefilter is a stateless map-side expression that streams as-is;
    * candidates verify through a stream-static left-anti join on the
    * 128-bit composite fingerprint (exact — Bloom false positives only
    * cost a candidate row, and unlike the watermarked dedups this stage
    * has NO state and NO horizon: the snapshot side is complete).
    * The batch variant's second Bloom (candidate-set pruning of the
    * snapshot scan) needs an action on the candidate frame and so cannot
    * stream; here the compact (fp, fp2) snapshot frame is the static join
    * side instead — keep it parquet-backed so per-microbatch re-reads are
    * columnar scans. */
  def streamingSnapshotDedup(docs: DataFrame, snapshot: DataFrame,
                             textCol: String = "text",
                             expectedSnapshotDocs: Long = -1L,
                             fpp: Double = 0.01): DataFrame = {
    import graft.data.{dataops, BloomHolder}
    val oldFp = snapshot.select(
      dataops.fingerprint(col(textCol)).as("__graft_fp"),
      xxhash64(col(textCol)).as("__graft_fp2"))
      .where(col("__graft_fp").isNotNull)
    val nOld = math.max(1L,
      if (expectedSnapshotDocs > 0) expectedSnapshotDocs else oldFp.count())
    val bloom = BloomHolder.from(
      oldFp.stat.bloomFilter(col("__graft_fp"), nOld, fpp))
    def hit(c: org.apache.spark.sql.Column) = dataops.bloomMightContain(c, bloom)
    val withFp = docs
      .withColumn("__graft_fp", dataops.fingerprint(col(textCol)))
      .withColumn("__graft_fp2", xxhash64(col(textCol)))
    // null text has no fingerprint and can match nothing: always survives
    val misses = withFp.filter(col("__graft_fp").isNull || !hit(col("__graft_fp")))
    val cand = withFp.filter(col("__graft_fp").isNotNull && hit(col("__graft_fp")))
      .join(oldFp, Seq("__graft_fp", "__graft_fp2"), "left_anti")
    misses.unionByName(cand).drop("__graft_fp", "__graft_fp2")
  }

  /** Streaming front half of the corpus build — the stages that are
    * per-row or keyed-state only and hence stream-safe, chained as two
    * stateful operators in ONE query (Spark supports chained stateful
    * dedups since watermark propagation landed): URL-level dedup
    * (128-bit hash of the canonical url), then content dedup (128-bit
    * fingerprint), then the codegen quality gate.  LSH near-dedup and
    * split/pack stay batch stages: they need cross-document candidate
    * joins / global prefix sums.  Same bounded-state trade-off as
    * [[streamingDedup]]: dups beyond the watermark horizon pass. */
  def streamingCorpusClean(docs: DataFrame, urlCol: String = "url",
                           textCol: String = "text", tsCol: String = "ts",
                           watermarkDelay: String = "10 minutes",
                           minTokens: Long = 5,
                           maxTokens: Long = 100000,
                           maxDupWordFrac: Double = 0.4,
                           maxTopBigramFrac: Double = 0.2,
                           /** pre-trained hashed-bigram LM + floor: the
                             * perplexity gate is stateless (plan-constant
                             * tables), so it streams as-is; the model is
                             * trained in batch (`Corpus.lmTrain`) — a
                             * stream cannot see its own future counts. */
                           lmModel: Option[graft.data.Corpus.LmModel] = None,
                           minLmLogProbPerBigramE6: Long = -9500000L,
                           /** static prior corpus snapshot: docs whose
                             * text already shipped drop first, stateless
                             * (see [[streamingSnapshotDedup]]) — the
                             * incremental-build twin of the batch
                             * pipeline's `priorSnapshot` knob. */
                           priorSnapshot: Option[DataFrame] = None,
                           priorSnapshotSize: Long = -1L): DataFrame = {
    import graft.data.{dataops, TextOps, UrlOps}
    val input = priorSnapshot match {
      case Some(snap) =>
        streamingSnapshotDedup(docs, snap, textCol, priorSnapshotSize)
      case None => docs
    }
    val norm = UrlOps.normalizeUrl(col(urlCol))
    // null url = missing metadata, not a duplicate: fall back to the
    // content fingerprint so null-url docs dedup by content here (the
    // same verdict the next stage would give).  The branch must be an
    // explicit when(): xxhash64 SKIPS null inputs and returns the seed
    // constant rather than null, so coalesce would never fall through
    // and every null-url doc would collide on one key.
    val urlDeduped = input
      .withColumn("uh", when(norm.isNotNull, xxhash64(norm))
        .otherwise(dataops.fingerprint(col(textCol))))
      .withColumn("uh2", when(norm.isNotNull, xxhash64(lit(1L), norm))
        .otherwise(xxhash64(col(textCol))))
      .withWatermark(tsCol, watermarkDelay)
      .dropDuplicatesWithinWatermark("uh", "uh2")
      .drop("uh", "uh2")
    // the SAME gate expression the batch pipeline builds — stream-vs-
    // batch verdict parity by construction (one builder, two consumers)
    dedupByFingerprint(urlDeduped, textCol)
      .where(graft.data.CorpusPipeline.qualityGate(col(textCol),
        minTokens, maxTokens, maxDupWordFrac, maxTopBigramFrac,
        langs = None, lmModel = lmModel,
        minLmLogProbPerBigramE6 = minLmLogProbPerBigramE6))
  }

  final case class CellEvent(cell: Long, ts: java.sql.Timestamp, value: Double)
  final case class CellSession(cell: Long, nEvents: Long, sumValue: Double,
                               firstTs: Long, lastTs: Long, closed: Boolean)
  final case class SessionState(nEvents: Long, sumValue: Double,
                                firstTs: Long, lastTs: Long)

  /** Per-cell sessionization with EVENT-time timeout: emits a running
    * update per batch and a final `closed` record when the watermark
    * passes `gapMs` beyond a cell's last event — custom state the windowed
    * agg can't express.  (Event-time, not processing-time: a
    * processing-time timeout schedules wall-clock micro-batches forever,
    * which livelocks drain-based testing and wastes cluster cycles.) */
  def cellSessions(events: Dataset[CellEvent], gapMs: Long = 60000,
                   watermarkDelay: String = "10 seconds"): Dataset[CellSession] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.cell)
      .flatMapGroupsWithState[SessionState, CellSession](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (cell: Long, it: Iterator[CellEvent], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(
              CellSession(cell, s.nEvents, s.sumValue, s.firstTs, s.lastTs,
                closed = true))
          } else {
            var s = state.getOption.getOrElse(SessionState(0, 0.0, Long.MaxValue, 0))
            it.foreach { e =>
              val t = e.ts.getTime
              s = SessionState(s.nEvents + 1, s.sumValue + e.value,
                math.min(s.firstTs, t), math.max(s.lastTs, t))
            }
            state.update(s)
            state.setTimeoutTimestamp(s.lastTs + gapMs)
            Iterator.single(
              CellSession(cell, s.nEvents, s.sumValue, s.firstTs, s.lastTs,
                closed = false))
          }
      }
  }

  /** Stream-static geofence join: every event of an unbounded (lon, lat)
    * stream tagged with the polygon(s) containing it.  Reuses the batch
    * PIP machinery verbatim ([[graft.geo.engine.GeoEngine.pipJoin]]):
    * the polygon cover and rings are STATIC broadcast sides, and the
    * per-event work — cell encode at the cover levels, equi-join,
    * even-odd refine — is stateless, so the plan is a legal stream-static
    * inner join with no state store and no watermark; per-micro-batch
    * cost is identical to the batch plan, and batch-vs-stream parity is
    * exact (asserted in StreamingPipelineSpec). */
  def geofenceJoin(events: DataFrame,
                   polys: Seq[graft.geo.engine.GeoEngine.Polygon],
                   coverLevel: Int = -1): DataFrame =
    graft.geo.engine.GeoEngine.pipJoin(
      events.sparkSession, events, polys, coverLevel)
}
