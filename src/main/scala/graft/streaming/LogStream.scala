package graft.streaming

import graft.logs.HttpdLog
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}

import java.sql.Timestamp

/**
 * Structured-Streaming front door for the log engine (SURVEY.md §2 D1-D2).
 * The same driver-compiled LogFormat → (regex, schema, column tree)
 * machinery as the batch path runs inside `readStream` — parsing stays a
 * stateless map, so watermarks/windows behave exactly like on any other
 * streaming source; only the aggregation carries state.
 */
object LogStream {

  /** D1: streaming equivalent of [[HttpdLog.read]] for a directory of
   * arriving log files. (Streaming sources can't sample for auto-detect;
   * the format must be explicit — same constraint as the reference's
   * scan-bound schema.) */
  def read(spark: SparkSession, path: String, formatStr: String): DataFrame = {
    graft.sources.ZstdJniCodec.register(spark.sparkContext.hadoopConfiguration)
    val lines = spark.readStream.text(path)
      // _metadata.file_path (deterministic) — same rationale and
      // spelling as the batch path and D27 (input_file_name() blocks
      // predicate pushdown through the projection)
      .select(col("value"), col("_metadata.file_path").as("log_file"))
      .filter(length(col("value")) > 0)
    HttpdLog.parseLines(lines, formatStr)
  }

  /** Parse an already-streaming line DataFrame (e.g. from Kafka `value`). */
  def parse(lines: DataFrame, formatStr: String): DataFrame =
    HttpdLog.parseLines(lines, formatStr)

  /** D27: streaming ingest of a HIVE-PARTITIONED log tree (the A14
   * twin — a live 100 TB archive is `date=.../access.log` directories
   * that keep growing): `basePath` + glob makes the file-stream source
   * run Spark's partition discovery, so the partition columns surface
   * through the parse exactly like batch (passthrough + A2 collision
   * suffixes), and a partition-column filter prunes each micro-batch's
   * file listing. */
  def readPartitioned(
      spark: SparkSession,
      base: String,
      glob: String,
      formatStr: String): DataFrame = {
    // _metadata.file_path, NOT input_file_name(): the metadata column
    // is deterministic, so a partition-column predicate pushes past
    // this projection and PartitionFilters actually prune each
    // micro-batch's scan — the same mechanism (and now the same
    // log_file spelling) as the batch path (HttpdLog.lines; r13
    // advisor finding, pruning pinned in LogStreamSpec D27).
    graft.sources.ZstdJniCodec.register(spark.sparkContext.hadoopConfiguration)
    val lines = spark.readStream.option("basePath", base).text(glob)
      .withColumn("log_file", col("_metadata.file_path"))
      .filter(length(col("value")) > 0)
    HttpdLog.parseLines(lines, formatStr)
  }

  /** D11: streaming equivalent of [[graft.logs.ErrorLog.read]] — the
   * ErrorLogFormat directive compiles to the same stateless
   * (regex, typed columns) map as the batch path, so error-log streams
   * watermark/window on the parsed µs `ts` like any other source. */
  def readError(spark: SparkSession, path: String, formatStr: String): DataFrame = {
    graft.sources.ZstdJniCodec.register(spark.sparkContext.hadoopConfiguration)
    graft.logs.ErrorLog.parseLines(
      spark.readStream.text(path).filter(length(col("value")) > 0), formatStr)
  }

  /** D1: watermarked tumbling-window hit counts per status. */
  def windowedStatusCounts(
      parsed: DataFrame,
      watermark: String = "10 minutes",
      windowLen: String = "5 minutes"): DataFrame =
    parsed
      .withWatermark("timestamp", watermark)
      .groupBy(window(col("timestamp"), windowLen), col("status"))
      .agg(count(lit(1)).as("hits"))
      .select(
        col("window.start").as("window_start"),
        col("status"),
        col("hits"))

  /**
   * D3: streaming exact dedup — drop documents whose content
   * fingerprint was already seen within the watermark horizon
   * (`dropDuplicatesWithinWatermark`: state is evicted once the
   * watermark passes, so memory is bounded by the horizon's arrival
   * rate rather than the whole stream's history — the property that
   * keeps a continuous-ingest dedup alive at 100 TB/day).
   */
  def dedupStream(
      docs: DataFrame,
      textCol: String = "text",
      tsCol: String = "ts",
      watermarkDelay: String = "1 hour",
      keepFingerprintAs: String = ""): DataFrame = {
    val deduped = docs
      .withColumn("__fp", graft.functions.TextFunctions.fingerprintMd5(col(textCol)))
      .withWatermark(tsCol, watermarkDelay)
      .dropDuplicatesWithinWatermark("__fp")
    // expose the dedup key on request so downstream projections don't
    // recompute the md5-over-normalized-text per kept row
    if (keepFingerprintAs.isEmpty) deduped.drop("__fp")
    else deduped.withColumnRenamed("__fp", keepFingerprintAs)
  }

  /**
   * D2: stateful gap-based sessionization with `flatMapGroupsWithState` —
   * one state entry per client, closed after `gapSeconds` of *event-time*
   * inactivity (watermark-driven, so results are deterministic on replay —
   * the property that matters for a 100 TB backfill; processing-time
   * timeouts would also keep scheduling no-data micro-batches forever).
   * Output = one update per batch per active client + a closing record
   * once the watermark passes the session's gap.
   */
  def sessionize(
      events: Dataset[SessionEvent],
      gapSeconds: Long = 1800,
      watermarkDelay: String = "10 minutes"): Dataset[SessionUpdate] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.clientHost)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (host: String, batch: Iterator[SessionEvent], state: GroupState[SessionState]) => {
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(SessionUpdate(host, new Timestamp(s.start), s.events, closed = true))
          } else {
            val times = batch.map(_.ts.getTime).toVector
            if (times.isEmpty) Iterator.empty
            else {
              val prev = state.getOption
              val merged = prev match {
                case Some(s) => SessionState(s.start, times.max max s.last, s.events + times.size)
                case None    => SessionState(times.min, times.max, times.size.toLong)
              }
              state.update(merged)
              state.setTimeoutTimestamp(merged.last + gapSeconds * 1000)
              Iterator(SessionUpdate(host, new Timestamp(merged.start), merged.events, closed = false))
            }
          }
        })
  }

  /**
   * D5: watermarked stream-stream attribution join — each purchase
   * matched to the same user's clicks in the preceding `windowSeconds`.
   * The two-sided time-bound condition plus per-side watermarks let the
   * engine evict click state once the watermark passes
   * `c_ts + windowSeconds` and purchase state immediately — bounded
   * state, the property that keeps a 100 TB replay from accreting the
   * whole history. Inner-join append semantics: a pair is emitted in
   * the first micro-batch where both sides are present, so the emitted
   * SET equals the batch join whenever input arrives within the
   * watermark (feed chunks in event-time order on replay).
   */
  def attributionJoin(
      clicks: DataFrame,
      purchases: DataFrame,
      windowSeconds: Long,
      watermarkDelay: String = "0 seconds"): DataFrame = {
    val c = clicks.select(
        col("event_id").as("click_id"), col("user_id").as("c_user"), col("ts").as("c_ts"))
      .withWatermark("c_ts", watermarkDelay)
    val p = purchases.select(
        col("event_id").as("purchase_id"), col("user_id").as("p_user"), col("ts").as("p_ts"))
      .withWatermark("p_ts", watermarkDelay)
    p.join(c,
      col("p_user") === col("c_user") &&
        col("c_ts") <= col("p_ts") &&
        col("c_ts") >= col("p_ts") - expr(s"INTERVAL $windowSeconds SECONDS"))
  }

  /**
   * D9: streaming NEAR-duplicate detection — the crawl-ingest shape
   * where arriving documents must be checked against everything already
   * admitted without re-batching the corpus. LSH over the codegen'd
   * [[graft.functions.SimHash64]] signature: each doc explodes to
   * `bands` 16-bit band values; state is ONE long per distinct
   * (band, value) bucket — the first owner's doc id. A doc is a
   * near-dup candidate iff ANY of its bands was first owned by an
   * earlier doc (classic LSH first-occurrence-wins: candidates drop
   * against prior arrivals whether or not those survived, keeping the
   * decision local to each band bucket — no cross-key coordination).
   *
   * Determinism: "earlier" is doc-id order, and the verdict set is
   * replay-stable ONLY for id-ascending feeds (each micro-batch's ids
   * ≥ all prior batches' — the checkpointed-offset crawl shape where
   * ids are assigned at ingest). PRECONDITION: feed batches in
   * ascending doc-id order. Out-of-order ingest is NOT revised: a
   * smaller id arriving after a bucket is owned keeps itself as owner
   * (Append mode cannot retract the earlier doc's verdict), so both
   * copies would be admitted and the oracle would diverge. Batch rows
   * are processed in ascending id order inside each bucket and state
   * keeps the minimum id ever seen, so any id-ascending chunking
   * reproduces the verdict set bit-for-bit; the oracle replicates the
   * whole decision in SQL over independently recomputed signatures.
   * At 100 TB/day the state
   * is bounded by distinct band values (≤ bands·2^16 per shard here;
   * widen the band width for larger spaces) — not by corpus size.
   *
   * @return one verdict per (doc, band): the bucket's owning doc id.
   *         Aggregate per doc downstream: dropped = min(owner) < id.
   */
  def nearDupStream(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      bands: Int = 4): Dataset[BandOwner] = {
    import docs.sparkSession.implicits._
    bandHits(docs, idCol, textCol, bands)
      .groupByKey(h => (h.band, h.value))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        nearDupFunc)
  }

  /** SimHash band hits of a (id, text) frame — shared by the cold- and
   * warm-start near-dup streams (and usable on a BATCH frame: the
   * expressions are stateless). */
  private def bandHits(
      docs: DataFrame, idCol: String, textCol: String,
      bands: Int): Dataset[BandHit] = {
    bandHitsOfSig(docs.select(
      col(idCol).as("doc_id"),
      graft.functions.SimHash64(
        graft.functions.TextFunctions.tokens(col(textCol))).as("__sig")), bands)
  }

  /** 16-bit band hits of any precomputed (doc_id, __sig) 64-bit
   * signature frame — the signature-family-agnostic half of
   * [[bandHits]], shared with the dHash image stream (D21). */
  private def bandHitsOfSig(sig: DataFrame, bands: Int): Dataset[BandHit] = {
    import sig.sparkSession.implicits._
    sig
      .select(col("doc_id"), posexplode(transform(
        sequence(lit(0), lit(bands - 1)),
        b => call_function("shiftright", col("__sig"), b * 16).bitwiseAND(0xffffL))))
      .select(col("doc_id"), col("pos").as("band"), col("col").as("value"))
      .as[BandHit]
  }

  /**
   * D21: streaming perceptual image near-dedup — the media rung of the
   * dedup ladder (C86) on the ingest path, and the multimodal ×
   * streaming composition: every arriving image DECODES IN-STREAM (the
   * mapPartitions dHash pass rides the micro-batch map exactly as the
   * batch operator rides its stage — binary codec work has no state,
   * so micro-batch execution reuses it unchanged), its 64-bit dHash
   * explodes into `bands` 16-bit buckets, and the IDENTICAL
   * [[nearDupFunc]] min-owner state machine as D9/D18 resolves
   * ownership — state O(occupied buckets), never O(images seen).
   * Undecodable payloads drop BEFORE banding (a NULL signature must
   * not become a shared bucket that cross-owns garbage). Closed-form
   * synthetic rasters make the whole decode→hash→band→own chain
   * STATICALLY oracle-checkable — q_d9 needs a signature-pinned
   * dynamic oracle, this replays analytically from id arithmetic.
   */
  def imageNearDupStream(
      imgs: DataFrame,
      idCol: String = "doc_id",
      binCol: String = "img",
      bands: Int = 4): Dataset[BandOwner] = {
    import imgs.sparkSession.implicits._
    val sig = graft.operators.Multimodal
      .dHash(imgs.select(col(idCol).as("doc_id"), col(binCol)), binCol, outCol = "__sig")
      .filter(col("__sig").isNotNull)
      .select(col("doc_id"), col("__sig"))
    bandHitsOfSig(sig, bands)
      .groupByKey(h => (h.band, h.value))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        nearDupFunc)
  }

  private val nearDupFunc:
      ((Int, Long), Iterator[BandHit], GroupState[BucketOwner]) => Iterator[BandOwner] =
    (key, batch, state) => {
      val sorted = batch.toVector.sortBy(_.doc_id)
      if (sorted.isEmpty) Iterator.empty
      else {
        // fold the batch minimum into the owner BEFORE emitting: with
        // prior state s and batch [a, b] (a < b), emitting min(s, b)
        // would miss batch-mate a whenever a < s — reachable once
        // warm-start seeds state with ids that need not precede the
        // stream's (r11 review finding). sorted.head IS the batch min,
        // so min(s, head, self) = min over every bucket-mate with
        // id ≤ self regardless of arrival interleaving.
        val owner = math.min(
          state.getOption.map(_.id).getOrElse(Long.MaxValue),
          sorted.head.doc_id)
        state.update(BucketOwner(owner))
        sorted.iterator.map(h =>
          BandOwner(h.doc_id, key._1, math.min(owner, h.doc_id)))
      }
    }

  /**
   * D18: WARM-START streaming near-dedup — the daily-crawl production
   * shape the cold-start D9 topology cannot express: yesterday's
   * corpus is already deduplicated and indexed, and today's stream
   * must dedupe against it WITHOUT replaying it. The old corpus is
   * folded to its per-(band, bucket) MIN-id owners in one BATCH
   * aggregate (the complete information the D9 state machine would
   * have accumulated had it streamed the old corpus — state size is
   * O(occupied buckets), never O(old docs)), and that owner table
   * seeds `flatMapGroupsWithState` via its `initialState` overload;
   * the stream then runs the IDENTICAL transition function as D9, so
   * cold-start semantics are preserved exactly for buckets the old
   * corpus never touched. This is the streaming complement of C62's
   * batch incremental near-dedup (NEW×OLD only, never old×old).
   */
  def nearDupStreamWarm(
      docs: DataFrame,
      oldDocs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      bands: Int = 4): Dataset[BandOwner] = {
    import docs.sparkSession.implicits._
    val init = bandHits(oldDocs, idCol, textCol, bands)
      .groupBy(col("band"), col("value"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"), col("band"), col("value")).as[BandHit]
      .groupByKey(h => (h.band, h.value))
      .mapValues(h => BucketOwner(h.doc_id))
    bandHits(docs, idCol, textCol, bands)
      .groupByKey(h => (h.band, h.value))
      .flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.NoTimeout, init)(nearDupFunc)
  }

  /**
   * D32: streaming eval-leakage gate — C121's minhash-band detector
   * at the eval-curation edge: before a candidate document enters an
   * eval set, does any of its band buckets contain a TRAIN doc? The
   * train corpus's occupied buckets seed `initialState` (the D18
   * shape), each arriving candidate's band keys (map-only
   * [[graft.functions.Md5MinhashSig]] — bit-identical to the batch
   * md5₅₂ chain, so ONE oracle replays stream and batch) probe it,
   * and a [[LeakHit]] is emitted per train-occupied band. State is
   * READ-ONLY under the stream — candidates must not block each
   * other, eval-eval duplication is not leakage — which makes
   * verdicts arrival-order-INDEPENDENT: no sorted-feed contract,
   * unlike D9/D18/D31 (q_d32 feeds chunks in REVERSE id order to
   * prove it). A doc with zero hits is admissible.
   */
  def leakageGateStream(
      docs: DataFrame,
      corpus: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      sigs: Int = 8,
      bands: Int = 4,
      shingle: Int = 3,
      hashKeys: Boolean = true): Dataset[LeakHit] = {
    import docs.sparkSession.implicits._
    require(sigs >= 1 && sigs <= 64 && bands >= 1 && sigs % bands == 0,
      s"sigs=$sigs must be in [1,64] and a multiple of bands=$bands")
    val rpb = sigs / bands
    def bandKeys(d: DataFrame): Dataset[BandKey] = {
      val sig = graft.functions.Md5MinhashSig(
        graft.functions.TextFunctions.tokens(col(textCol)), shingle, sigs)
      val bandCols = (0 until bands).map { b =>
        concat_ws(",", (0 until rpb).map(r =>
          element_at(col("__sig"), b * rpb + r + 1)): _*)
      }
      d.select(col(idCol).cast("long").as("doc_id"), sig.as("__sig"))
        .filter(col("__sig").isNotNull) // null text -> no bands, no rows
        .select(col("doc_id"),
          posexplode(array(bandCols: _*)).as(Seq("band", "bk")))
        .as[BandKey]
    }
    if (hashKeys) {
      // r20 (the batch hashKeys rule at the stream edge): the state
      // key is xxhash64(band, bk) — 8 bytes on the grouping exchange
      // and in the state store instead of the "band:slot,slot" string.
      // Output-identical modulo a 64-bit collision (the accepted
      // batch-wide trade since r19's hashKeys flips; LogStreamSpec
      // pins hashed ≡ string verdicts).
      def keyed(d: Dataset[BandKey]): Dataset[BandKeyK] = d
        .select(col("doc_id"), col("band"),
          xxhash64(col("band"), col("bk")).as("k")).as[BandKeyK]
      leakGateK(keyed(bandKeys(docs)), keyed(bandKeys(corpus)))
    } else {
      // ONE row per bucket: initialState rejects duplicate keys (the
      // D18 pre-aggregate rule)
      val init = bandKeys(corpus)
        .groupBy(col("band"), col("bk"))
        .agg(min(col("doc_id")).as("doc_id"))
        .select(col("doc_id"), col("band"), col("bk")).as[BandKey]
        .groupByKey(h => s"${h.band}:${h.bk}")
        .mapValues(_ => TrainMark(1))
      bandKeys(docs)
        .groupByKey(h => s"${h.band}:${h.bk}")
        .flatMapGroupsWithState(
          OutputMode.Append, GroupStateTimeout.NoTimeout, init)(leakGateFunc)
    }
  }

  /** The hashed D32 gate over pre-keyed bands. The warm-start state is
   * ONE row per state key `k`, grouped on the hash itself (the D31
   * rule): two corpus buckets that collide in xxhash64 merge into one
   * bucket — the documented hashKeys trade, a merged verdict — instead
   * of duplicate initialState keys, which fail the query. */
  private[streaming] def leakGateK(
      cands: Dataset[BandKeyK], corpus: Dataset[BandKeyK]): Dataset[LeakHit] = {
    import cands.sparkSession.implicits._
    val init = corpus.select(col("k")).distinct().as[Long]
      .groupByKey(identity)
      .mapValues(_ => TrainMark(1))
    cands
      .groupByKey(_.k)
      .flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.NoTimeout, init)(leakGateFuncK)
  }

  private val leakGateFunc:
      (String, Iterator[BandKey], GroupState[TrainMark]) => Iterator[LeakHit] =
    (_, batch, state) =>
      // read-only: presence of state == the bucket holds train content
      if (state.exists) batch.map(h => LeakHit(h.doc_id, h.band))
      else Iterator.empty

  private val leakGateFuncK:
      (Long, Iterator[BandKeyK], GroupState[TrainMark]) => Iterator[LeakHit] =
    (_, batch, state) =>
      if (state.exists) batch.map(h => LeakHit(h.doc_id, h.band))
      else Iterator.empty

  /**
   * D31: streaming exact-substring firewall — the C114 ExactSubstr
   * rung at the ingest edge, in the D18 warm-start shape: the corpus's
   * per-gram (count, min-packed-owner) table — EXACTLY the state the
   * batch aggregate computes — seeds `flatMapGroupsWithState` via
   * `initialState`, and each arriving document's positioned n-grams
   * probe and update it. An occurrence is emitted as a SCRUB START
   * iff, after counting it, its gram is duplicated (count > 1) and it
   * is not the canonical min-(doc, pos) owner — the batch rule
   * verbatim, so under the streaming determinism contract (stream ids
   * above corpus ids, chunks fed in ascending id order — the q_d23
   * device) the verdicts hash-match batch [[graft.operators
   * .CorpusPipeline.exactSubstrScrub]] over (corpus ∪ stream)
   * restricted to streamed ids (the q_d31 oracle). Consumers join the
   * emitted starts back to the document's tokens and run the same
   * [[graft.functions.ScrubSpans]] kernel — the firewall's output is
   * the scrub DECISIONS, which is what an admission pipeline acts on.
   *
   * State is one (count, packed owner) pair per distinct corpus gram —
   * the RocksDB-backed store (the r11 default here) is the point at
   * corpus scale. `hashKeys` (default true since r20) keys the state
   * by xxhash64(g) exactly as the batch scale path does — verdicts
   * depend only on grouping identity, so the oracle's string-gram
   * replay still hash-matches (LogStreamSpec pins hashed ≡ string).
   */
  def exactSubstrStream(
      docs: DataFrame,
      corpus: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      n: Int = 8,
      hashKeys: Boolean = true): Dataset[ScrubStart] = {
    import docs.sparkSession.implicits._
    require(n > 0)
    def occs(d: DataFrame): Dataset[GramOcc] = {
      val t = graft.functions.TextFunctions.tokens(col(textCol))
      d.select(col(idCol).cast("long").as("doc_id"), t.as("__t"))
        .filter(size(col("__t")) >= n)
        .select(col("doc_id"),
          posexplode(graft.functions.WordShingles(col("__t"), n))
            .as(Seq("pos", "g")))
        .as[GramOcc]
    }
    val packed = col("doc_id") * lit(1L << 32) + col("pos")
    if (hashKeys) {
      // r20: key the state by xxhash64(g) — exactly the batch
      // ExactSubstr scale path's key — so the warm-start aggregate,
      // the per-batch grouping exchange, and every state-store key
      // carry 8 bytes instead of the n-token gram string. Verdicts
      // only depend on grouping identity ((doc, pos) never the gram
      // text), so output is identical modulo a 64-bit collision (the
      // accepted batch-wide trade; LogStreamSpec pins hashed ≡ string
      // verdicts).
      val init = occs(corpus)
        .groupBy(xxhash64(col("g")).as("gk"))
        .agg(count(lit(1)).as("c"), min(packed).as("o"))
        .as[GramStateRowK]
        .groupByKey(_.gk)
        .mapValues(r => GramOwnerState(r.c, r.o))
      occs(docs)
        .select(col("doc_id"), col("pos"), xxhash64(col("g")).as("gk"))
        .as[GramOccK]
        .groupByKey(_.gk)
        .flatMapGroupsWithState(
          OutputMode.Append, GroupStateTimeout.NoTimeout, init)(exactSubstrFuncK)
    } else {
      val init = occs(corpus)
        .groupBy(col("g"))
        .agg(count(lit(1)).as("c"), min(packed).as("o"))
        .as[GramStateRow]
        .groupByKey(_.g)
        .mapValues(r => GramOwnerState(r.c, r.o))
      occs(docs)
        .groupByKey(_.g)
        .flatMapGroupsWithState(
          OutputMode.Append, GroupStateTimeout.NoTimeout, init)(exactSubstrFunc)
    }
  }

  /** Shared D31 transition fold over (doc_id, pos) occurrences —
   * identical under string and hashed keys (the key itself is never
   * read). Packed order inside the batch: a batch-mate with a smaller
   * (doc, pos) must claim ownership BEFORE later occurrences are
   * judged (the nearDupFunc fold-before-emit rule). */
  private def exactSubstrFold(
      batch: Iterator[(Long, Int)],
      state: GroupState[GramOwnerState]): Iterator[ScrubStart] = {
    var cnt = 0L
    var own = Long.MaxValue
    state.getOption.foreach { s => cnt = s.count; own = s.owner }
    val out = Vector.newBuilder[ScrubStart]
    batch.toVector.sortBy(o => o._1 * (1L << 32) + o._2).foreach { o =>
      val p = o._1 * (1L << 32) + o._2
      cnt += 1
      if (p < own) own = p
      if (cnt > 1 && p != own) out += ScrubStart(o._1, o._2)
    }
    state.update(GramOwnerState(cnt, own))
    out.result().iterator
  }

  private val exactSubstrFunc:
      (String, Iterator[GramOcc], GroupState[GramOwnerState]) => Iterator[ScrubStart] =
    (_, batch, state) =>
      exactSubstrFold(batch.map(o => (o.doc_id, o.pos)), state)

  private val exactSubstrFuncK:
      (Long, Iterator[GramOccK], GroupState[GramOwnerState]) => Iterator[ScrubStart] =
    (_, batch, state) =>
      exactSubstrFold(batch.map(o => (o.doc_id, o.pos)), state)

  /**
   * D23: streaming funnel state machine — B18's ordered
   * view → click → purchase funnel on the ingest path: state per user
   * is ONE small int (the highest stage reached — the funnel is
   * monotone, a stage is never revisited), so state is O(users)
   * forever and each micro-batch emits only stage TRANSITIONS
   * (0 = first-seen, 1 = view, 2 = click-after-view,
   * 3 = purchase-after-click). Events inside a batch apply in full
   * event-time order ((ms, nanos, event_id) — µs ties matter here,
   * unlike [[quotaStream]]'s ms-floor contract, because the batch
   * oracle orders by raw µs timestamps); chunks fed in event-time
   * order replay the batch result exactly — q_d23 rolls transitions
   * up to THE SAME single-row shape as q_b18 and is checked by the
   * IDENTICAL oracle SQL (batch/stream parity through one oracle).
   */
  def funnelStream(events: Dataset[FunnelEvent]): Dataset[FunnelTransition] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (uid: Long, batch: Iterator[FunnelEvent], state: GroupState[FunnelState]) => {
          var stage = state.getOption.map(_.stage).getOrElse(-1)
          val out = Vector.newBuilder[FunnelTransition]
          batch.toVector
            .sortBy(e => (e.ts.getTime, e.ts.getNanos, e.event_id))
            .foreach { e =>
              if (stage < 0) { stage = 0; out += FunnelTransition(uid, 0, e.event_id) }
              val next = e.event_type match {
                case "view" if stage == 0 => 1
                case "click" if stage == 1 => 2
                case "purchase" if stage == 2 => 3
                case _ => stage
              }
              if (next != stage) {
                stage = next
                out += FunnelTransition(uid, stage, e.event_id)
              }
            }
          state.update(FunnelState(stage))
          out.result().iterator
        })
  }

  /**
   * D24: streaming CUSUM drift alarm — the sequential change detector
   * (Page 1954) on the ingest path: B17's median/MAD burst read is the
   * batch retrospective, D14's window histograms need a full window to
   * close; CUSUM fires the alarm ON THE DOCUMENT that crosses the
   * threshold. Per source, two one-sided statistics over a per-doc
   * integer signal x (token count here):
   *
   *   s⁺_t = max(0, s⁺_{t-1} + (x_t − kUp))   — upward shift
   *   s⁻_t = max(0, s⁻_{t-1} + (kDn − x_t))   — downward shift
   *
   * alarm when the statistic exceeds h. State per source is exactly
   * TWO longs forever (the smallest-state family: D8's one counter,
   * D20's one long per cell); in-batch events apply in (ms event time,
   * doc_id) order, so chunked replays are bit-exact. The open-ended
   * (non-resetting) form is kept deliberately: the Lindley recursion
   * then has the closed form s_t = c_t − min(0, min_{j≤t} c_j) over
   * prefix sums c of (x−k) — pure window arithmetic, so a batch SQL
   * engine replays every per-doc value exactly (the q_d24 oracle; a
   * reset-on-alarm variant would need recursive SQL).
   */
  def cusumStream(
      docs: Dataset[CusumEvent],
      kUp: Long,
      kDn: Long,
      h: Long): Dataset[CusumPoint] = {
    import docs.sparkSession.implicits._
    docs.groupByKey(_.source)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (src: String, batch: Iterator[CusumEvent], state: GroupState[CusumState]) => {
          var up = state.getOption.map(_.up).getOrElse(0L)
          var dn = state.getOption.map(_.dn).getOrElse(0L)
          val out = batch.toVector.sortBy(e => (e.ts.getTime, e.doc_id)).map { e =>
            up = math.max(0L, up + (e.x - kUp))
            dn = math.max(0L, dn + (kDn - e.x))
            CusumPoint(src, e.doc_id, e.x, up, dn,
              if (up > h) 1L else 0L, if (dn > h) 1L else 0L)
          }
          state.update(CusumState(up, dn))
          out.iterator
        })
  }

  /**
   * D25: streaming k-anonymity release gate — C85's batch audit asks
   * "which groups are publishable"; the ingest-side question is WHEN a
   * row may flow: a row whose quasi-identifier group hasn't reached k
   * yet is BUFFERED (publishing it would isolate an individual), the
   * whole buffer flushes the moment the group's k-th member arrives,
   * and every later member flows through immediately — the
   * "delay until anonymous" shape (k-anonymity on data streams,
   * CASTLE-style delay-constrained publishing, reduced to the exact-k
   * special case so the release set is deterministic). Rows in groups
   * that never reach k are never emitted — identical to the batch
   * suppression rule, which is what makes the oracle a pure batch
   * replay: released rows = rows of groups with total ≥ k, seq = the
   * row's arrival rank in its group under the full (µs event time,
   * event_id) order — (getTime, getNanos) here ⇔ epoch_us in the
   * oracle at the file's µs precision (the q_b16 sub-second rule; a
   * ms-floored reimplementation would mis-rank same-ms events).
   *
   * State per group: one counter plus AT MOST k−1 buffered event ids
   * (the buffer empties forever once the group publishes) — O(k) per
   * group, O(k·groups) total, independent of stream length.
   */
  def kAnonStream(
      events: Dataset[KAnonEvent],
      k: Int): Dataset[KAnonRelease] = {
    require(k >= 1, s"k must be >= 1, got $k")
    import events.sparkSession.implicits._
    events.groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (key: String, batch: Iterator[KAnonEvent], state: GroupState[KAnonGateState]) => {
          var n = state.getOption.map(_.n).getOrElse(0L)
          var buf = state.getOption.map(_.buffer).getOrElse(Seq.empty[Long])
          val out = Vector.newBuilder[KAnonRelease]
          batch.toVector
            .sortBy(e => (e.ts.getTime, e.ts.getNanos, e.event_id))
            .foreach { e =>
              n += 1
              if (n < k) buf = buf :+ e.event_id
              else if (n == k) {
                (buf :+ e.event_id).zipWithIndex.foreach { case (id, i) =>
                  out += KAnonRelease(key, id, i + 1L)
                }
                buf = Seq.empty
              } else out += KAnonRelease(key, e.event_id, n)
            }
          state.update(KAnonGateState(n, buf))
          out.result().iterator
        })
  }

  /**
   * D8: streaming per-key admission quota — admit the first
   * `maxPerKey` rows per key in arrival order, drop the rest (the
   * streaming counterpart of `CorpusPipeline.capPerKey`: per-domain
   * caps enforced at ingest, before anything lands). State per key is
   * exactly ONE counter — the bounded-state contrast to streaming
   * dedup's per-row key set — and an exhausted quota never readmits,
   * so no timeout/eviction is needed; state size is O(distinct keys)
   * forever, independent of stream length. Rows are admitted within a
   * micro-batch in (ms-floored event time, id) order, so a
   * deterministically chunked replay reproduces the same admitted set
   * bit-for-bit (same ms-floor rule as [[sessionize]]'s oracle:
   * `Timestamp.getTime`).
   */
  def quotaStream(
      events: Dataset[QuotaEvent],
      maxPerKey: Long): Dataset[QuotaAdmit] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (key: String, batch: Iterator[QuotaEvent], state: GroupState[QuotaCount]) => {
          val used = state.getOption.map(_.n).getOrElse(0L)
          // clamp before narrowing: remaining quota ≥ 2^31 would wrap
          // negative and admit nothing despite room (a per-batch take
          // can't exceed Int.MaxValue rows anyway)
          val room = math.min(math.max(0L, maxPerKey - used), Int.MaxValue.toLong).toInt
          val admitted = batch.toVector.sortBy(e => (e.ts.getTime, e.id)).take(room)
          if (admitted.nonEmpty) state.update(QuotaCount(used + admitted.size))
          admitted.iterator.zipWithIndex.map { case (e, i) =>
            QuotaAdmit(key, e.id, used + i + 1)
          }
        })
  }

  /**
   * D16: streaming quality-filter scoring — the deploy half of the
   * C66 train-offline/score-online split: the driver-held integer
   * weights (from [[graft.operators.Training.fitWeights]]) score each
   * arriving document STATELESSLY — margin = Σ_tokens w[md5-bucket]
   * + bias, admit = margin > 0. No state store, no watermark, no
   * shuffle: per micro-batch the cost is exactly the batch map, so at
   * 100 TB/day the filter rides ingest for free. The per-token bucket
   * sum runs as a higher-order aggregate (interpreted per element —
   * fine for a filter whose cost is one md5 per token; the codegen
   * escalation path is a static-helper expression, the WordShingles
   * pattern). Margins equal the batch trainer's m4 margins exactly:
   * Σ_tokens w[bucket(t)] ≡ Σ_buckets count·w.
   */
  def scoreStream(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      w: Array[Long],
      bias: Long): DataFrame = {
    val features = w.length
    require(features > 0)
    val wLit = typedlit(w.toSeq)
    // the SAME md5 bucket + tokenizer as the trainer (one shared
    // helper — train/score margin parity breaks if these ever diverge)
    def bucket(t: Column): Column =
      graft.functions.TextFunctions.md5Bucket(t, features).cast("int")
    val margin = aggregate(
      graft.functions.TextFunctions.tokens(col(textCol)),
      lit(0L),
      (acc, t) => acc + element_at(wLit, bucket(t) + 1)) + lit(bias)
    docs.select(
      col(idCol),
      margin.as("margin"),
      when(margin > 0, 1L).otherwise(0L).as("admit"))
  }

  /**
   * D19: streaming repetition firewall — the C79 Gopher repetition
   * gates ([[graft.functions.RepetitionStats]]) applied to each
   * micro-batch STATELESSLY: per arriving document, the published
   * top-n-gram / dup-n-gram character-fraction gates decide admission
   * before anything lands (machine-generated spam fails these long
   * before a quality classifier fires, which is why the gate belongs
   * on the ingest path). No state store, no watermark, no shuffle —
   * the map-only expression is exactly why the batch operator reuses
   * unchanged under micro-batch execution, and the verdict columns
   * carry the evidence (each gate's ppm) for audit. `gates` maps
   * n → (useDupMass, thresholdPpm); a doc with fewer than n tokens
   * passes gate n vacuously (NULL struct — no real n-gram, no
   * repetition evidence).
   */
  def repetitionGateStream(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      gates: Seq[(Int, Boolean, Long)] =
        Seq((2, false, 200000L), (5, true, 150000L))): DataFrame = {
    require(gates.nonEmpty)
    val masses = gates.map { case (n, useDup, _) =>
      val s = graft.functions.RepetitionStats(
        graft.functions.TextFunctions.tokens(col(textCol)), n)
      val field = if (useDup) "dup_char_mass" else "top_char_mass"
      coalesce(s.getField(field), lit(0L)).as(s"__mass_$n")
    }
    val withPpm = gates.foldLeft(
      docs.select(col(idCol) +: greatest(length(col(textCol)), lit(1))
        .cast("long").as("__chars") +: masses: _*)) {
      case (df, (n, _, _)) =>
        df.withColumn(s"ppm_$n", expr(s"__mass_$n * 1000000 div __chars"))
    }
    withPpm
      .withColumn("admit",
        gates.map { case (n, _, thr) => col(s"ppm_$n") <= thr }
          .reduce(_ && _).cast("long"))
      .select(col(idCol) +: gates.map { case (n, _, _) => col(s"ppm_$n") } :+
        col("admit"): _*)
  }

  /**
   * D26: streaming encoding firewall — the C103 ftfy-class gate at the
   * ingest edge, where encoding damage should be caught (fixing it
   * after tokenization is too late): per arriving document, count
   * mojibake markers and U+FFFD tombstones, apply the strict-validated
   * cp1252→UTF-8 reversal ([[graft.functions.EncodingQa]]), and admit
   * unless the text carries unrecoverable damage (tombstones). The
   * D19/D22 admission-firewall shape: stateless map-only codegen per
   * micro-batch — no state store, no watermark, no shuffle.
   */
  def encodingGateStream(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    import graft.functions.EncodingQa
    docs
      .select(col(idCol), col(textCol).as("__t"),
        EncodingQa.fixMojibake(col(textCol)).as("__f"),
        size(regexp_extract_all(col(textCol), lit(EncodingQa.MarkerRe), lit(0)))
          .cast("long").as("marker_hits"),
        (length(col(textCol)) -
          length(regexp_replace(col(textCol), lit("�"), lit(""))))
          .cast("long").as("repl_chars"))
      .select(col(idCol), col("marker_hits"), col("repl_chars"),
        when(col("__f") =!= col("__t"), 1L).otherwise(0L).as("fixed"),
        (length(col("__t")) - length(col("__f"))).cast("long").as("fixed_chars"),
        when(col("repl_chars") === 0L, 1L).otherwise(0L).as("admit"))
  }

  /**
   * D28: streaming HTML→text extraction — C109 at the crawl ingest
   * edge, where a live fetch pipeline runs it (extract once, on
   * arrival, before any downstream text operator sees the page).
   * Stateless map-only codegen per micro-batch (the D19/D22
   * admission-firewall shape: no state store, no watermark, no
   * shuffle): one [[graft.functions.HtmlExtract]] parse per page
   * feeds block counts, char/anchor totals, and the md5 evidence of
   * both the full and the boilerplate-stripped main text.
   */
  def htmlExtractStream(
      pages: DataFrame,
      idCol: String = "doc_id",
      htmlCol: String = "html"): DataFrame =
    pages
      .select(col(idCol), graft.functions.HtmlExtract(col(htmlCol)).as("__e"))
      .select(col(idCol),
        col("__e.n_blocks").as("n_blocks"),
        size(filter(col("__e.blocks"), b => b.getField("kept")))
          .as("kept_blocks"),
        col("__e.total_chars").as("total_chars"),
        col("__e.anchor_chars").as("anchor_chars"),
        md5(col("__e.text")).as("text_md5"),
        md5(col("__e.main_text")).as("main_md5"))

  /**
   * D30: streaming training-example builder — C116's span corruption
   * at the live edge of the pipeline (a curation stream that emits
   * objective-ready examples as documents clear the firewalls,
   * instead of a second batch pass over the day's intake): each
   * micro-batch masks its documents STATELESSLY — one
   * [[graft.functions.SpanCorrupt]] codegen call per row, md5-seeded
   * by (doc id, window) so the masking is identical to the batch
   * operator's (the D28/D29 twin discipline: the stream hash-checks
   * against the IDENTICAL batch oracle). No state store, no
   * watermark, no shuffle — the D19/D22 map-only class.
   */
  def exampleStream(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    docs
      .select(col(idCol), graft.functions.SpanCorrupt(
        graft.functions.TextFunctions.tokens(col(textCol)),
        col(idCol)).as("__sc"))
      .select(col(idCol),
        col("__sc.total_tokens").as("total_tokens"),
        col("__sc.n_spans").as("n_spans"),
        col("__sc.masked_tokens").as("masked_tokens"),
        md5(col("__sc.input_text")).as("input_md5"),
        md5(col("__sc.target_text")).as("target_md5"))

  /**
   * D29: streaming WARC ingest — C111 at the live-fetch edge: archive
   * segments arrive as binary (a fetcher emits one segment per page,
   * a tailer emits whole members), each micro-batch frames its
   * records statelessly (one [[graft.functions.WarcRecords]] pass —
   * gzip/zstd segments magic-sniff inside the framer) and explodes
   * one row per record with the HTTP layer split out, ready for
   * [[htmlExtractStream]]/downstream firewalls. No state store, no
   * watermark, no shuffle — the D19/D22 shape.
   */
  def warcStream(
      segs: DataFrame,
      idCol: String = "doc_id",
      warcCol: String = "warc"): DataFrame =
    segs
      .select(col(idCol),
        explode(graft.functions.WarcRecords(col(warcCol))).as("r"))
      .select(col(idCol), col("r.*"))

  /**
   * D22: streaming blocklist firewall — the C88 Aho–Corasick scan
   * ([[graft.functions.BlocklistCounts]]) applied to each micro-batch
   * STATELESSLY: one automaton pass per arriving document counts every
   * blocklist phrase (a 10k-phrase list costs the same pass), and the
   * verdict carries its evidence: total hits, number of distinct
   * patterns hit, and the earliest match-end byte offset
   * ([[graft.functions.BlocklistFirstHit]] — what a moderation UI
   * highlights). No state store, no watermark, no shuffle — the
   * map-only expressions reuse the batch operator unchanged under
   * micro-batch execution, the D19 admission-firewall shape.
   */
  def blocklistStream(
      docs: DataFrame,
      patterns: Seq[String],
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    docs
      .select(col(idCol),
        graft.functions.BlocklistCounts(lower(col(textCol)), patterns).as("__c"),
        graft.functions.BlocklistFirstHit(lower(col(textCol)), patterns)
          .as("first_hit"))
      .select(col(idCol),
        expr("aggregate(__c, 0L, (a, x) -> a + x)").as("total_hits"),
        expr("cast(size(filter(__c, x -> x > 0)) as int)").as("patterns_hit"),
        col("first_hit"))
      .withColumn("admit", when(col("total_hits") === 0L, 1L).otherwise(0L))

  /**
   * D15: streaming per-source bottom-k content sample — the
   * reservoir-sampling equivalent with deterministic, merge-friendly
   * semantics: keep the k smallest (content-hash, doc_id) keys per
   * source. State is EXACTLY k pairs of longs per source forever; a
   * new doc is admitted iff the reservoir has room or its key beats
   * the current worst (which is then evicted). The invariant that
   * makes it a sample (and batch-replayable): an element of the
   * global bottom-k is in the bottom-k of every prefix that contains
   * it, so it is ALWAYS admitted on arrival regardless of order —
   * the final bottom-k of the admitted superset equals the batch
   * bottom-k over the whole stream (the admitted superset itself is
   * order-dependent and expected k·(1+ln(n/k)) under random hashes).
   * The content hash is computed INSIDE the micro-batch plan (codegen
   * md5-prefix, the [[budgetStream]] in-plan-compute shape); no
   * watermark or timeout — admission never expires.
   */
  def sampleStream(docs: Dataset[SampleDoc], k: Int): Dataset[SampleAdmit] = {
    require(k > 0)
    import docs.sparkSession.implicits._
    docs
      .select(
        col("source"),
        col("doc_id"),
        conv(substring(md5(col("text")), 1, 13), 16, 10).cast("long").as("h"))
      .as[SampleTok]
      .groupByKey(_.source)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (source: String, batch: Iterator[SampleTok], state: GroupState[SampleState]) => {
          var keys = state.getOption.map(_.keys.toVector).getOrElse(Vector.empty)
          val out = batch.toVector.sortBy(_.doc_id).flatMap { d =>
            val admit = keys.size < k || d.h < keys.last.h ||
              (d.h == keys.last.h && d.doc_id < keys.last.id)
            if (admit) {
              keys = (keys :+ SampleKey(d.h, d.doc_id))
                .sortBy(x => (x.h, x.id)).take(k)
              Some(SampleAdmit(source, d.doc_id, d.h))
            } else None
          }
          if (out.nonEmpty) state.update(SampleState(keys))
          out.iterator
        })
  }

  /**
   * D12: streaming per-source TOKEN-budget admission — the metered
   * cousin of [[quotaStream]] (D8 counts rows; ingest shaping for a
   * training mix meters tokens, the C50 batch solver's quantity). The
   * token count is computed INSIDE the micro-batch plan (codegen
   * `regexp`-free `size(split(..))`, the D4 annotate shape), then one
   * `flatMapGroupsWithState` keyed on source holds a single long per
   * source — tokens admitted so far. A document is admitted iff the
   * counter is still strictly under budget WHEN it arrives (the last
   * admitted doc may overshoot; its own size never gates it — the
   * deterministic greedy rule an offline cumulative-sum replication
   * reproduces exactly). Admission order inside a batch is ascending
   * `doc_id`, so chunked replays are bit-reproducible; exhausted
   * budgets never readmit, so no timeout/watermark is needed and state
   * stays O(distinct sources) forever.
   */
  def budgetStream(docs: Dataset[BudgetDoc], budgetTokens: Long): Dataset[BudgetAdmit] = {
    import docs.sparkSession.implicits._
    docs
      .select(
        col("source"),
        col("doc_id"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("ntok"))
      .as[BudgetTok]
      .groupByKey(_.source)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (source: String, batch: Iterator[BudgetTok], state: GroupState[BudgetUsed]) => {
          var used = state.getOption.map(_.t).getOrElse(0L)
          val out = batch.toVector.sortBy(_.doc_id).flatMap { d =>
            if (used < budgetTokens) {
              used += d.ntok
              Some(BudgetAdmit(source, d.doc_id, d.ntok, used))
            } else None
          }
          if (out.nonEmpty) state.update(BudgetUsed(used))
          out.iterator
        })
  }

  /**
   * D36: streaming deduplicating archive — the live twin of C128
   * ([[graft.sources.Warc.dedupArchive]]): as fetches ARRIVE, the
   * first fetch of any payload keeps its full response record and
   * every later fetch of identical bytes becomes a header-only
   * revisit referencing the owner — the archive stops paying for
   * re-crawls at INGEST, not in a nightly rewrite. Ownership is keyed
   * state on (xxhash64(payload), byte length) — the 16-byte
   * attritionFunnel collision guard — holding only the owner's record
   * id: O(distinct payloads) state forever by default (the D3/D8
   * bounded-state class; an archive's dedup horizon IS all of
   * history, so NoTimeout — RocksDB carries it at scale), or bounded
   * by the optional retention horizon (`eventTimeCol` + `retentionMs`
   * — the C131-aligned eviction, r18 verdict #6; see the inline
   * note). Within a micro-batch ties break
   * by (ord, rid), so chunked replays are bit-reproducible; across
   * batches first arrival wins — feed ord-ascending chunks and stream
   * ownership EQUALS the batch operator's min-ord ownership (the
   * q_d36 oracle is q_c128's replay verbatim). Record assembly stays
   * in the stateless column layer (the SAME responseRecord/
   * revisitRecord builders), so emitted bytes are identical to the
   * batch writer's and hydrate back through
   * [[graft.sources.Warc.hydrateRevisits]].
   */
  def archiveDedupStream(
      fetches: DataFrame, uriCol: String, ridCol: String, dateCol: String,
      statusCol: String, mimeCol: String, payloadCol: String,
      orderCol: String, eventTimeCol: String = null,
      retentionMs: Long = -1L,
      watermarkDelay: String = "0 seconds"): DataFrame = {
    import fetches.sparkSession.implicits._
    // Retention (r18 verdict #6): without it, owner state is
    // O(distinct payloads) FOREVER — correct for an archive whose
    // dedup horizon is all of history, but a years-long crawl wants
    // the C131-aligned policy: a family whose LAST fetch is older
    // than `retentionMs` (by watermark) EVICTS its owner state, and
    // the next fetch of those bytes re-admits as a NEW owner. Run the
    // archive GC (C131/C132) with the same retention so the evicted
    // owner's record retires too — revisits created after eviction
    // reference the new owner, never the retired one. EventTimeTimeout
    // (the q_d2 rule: ProcessingTimeTimeout hangs
    // processAllAvailable); the timeout timestamp is re-armed to
    // max(last fetch + retention) on every data batch, clamped above
    // the current watermark (Spark rejects a timeout at/behind it).
    val withRetention = eventTimeCol != null && retentionMs >= 0
    val base = fetches.select(
        col(uriCol).cast("string").as("url"),
        col(ridCol).cast("string").as("rid"),
        col(dateCol).cast("string").as("fdate"),
        col(statusCol).cast("int").as("status"),
        col(mimeCol).cast("string").as("mime"),
        coalesce(col(payloadCol).cast("binary"),
          lit(Array.emptyByteArray)).as("payload"),
        col(orderCol).cast("long").as("ord"),
        (if (withRetention) col(eventTimeCol).cast("timestamp")
         else lit(null).cast("timestamp")).as("ts"))
      .withColumn("dk", xxhash64(col("payload")))
      .withColumn("dl", octet_length(col("payload")).cast("long"))
      .withColumn("digest", md5(col("payload")))
    val keyed =
      (if (withRetention) base.withWatermark("ts", watermarkDelay) else base)
        .as[ArchiveFetch]
    val timeoutConf =
      if (withRetention) GroupStateTimeout.EventTimeTimeout
      else GroupStateTimeout.NoTimeout
    val owned = keyed
      .groupByKey(f => (f.dk, f.dl))
      .flatMapGroupsWithState(OutputMode.Append, timeoutConf)(
        (_: (Long, Long), batch: Iterator[ArchiveFetch],
            state: GroupState[ArchiveOwnerState]) => {
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val sorted = batch.toVector.sortBy(f => (f.ord, f.rid))
            val prior = state.getOption
            val owner = prior.getOrElse {
              val o = ArchiveOwnerState(sorted.head.rid)
              state.update(o)
              o
            }
            if (withRetention) {
              val lastTs = sorted.iterator.map(_.ts.getTime).max
              state.setTimeoutTimestamp(math.max(lastTs + retentionMs,
                state.getCurrentWatermarkMs() + 1))
            }
            sorted.iterator.zipWithIndex.map { case (f, i) =>
              ArchiveOwned(f.url, f.rid, f.fdate, f.status, f.mime,
                f.payload, f.ord, f.digest,
                is_owner = prior.isEmpty && i == 0, own_rid = owner.rid)
            }
          }
        })
    owned.toDF()
      .withColumn("rec", when(col("is_owner"),
        graft.sources.Warc.responseRecord(col("url"), col("rid"),
          col("fdate"), col("status"), col("mime"), col("payload")))
        .otherwise(graft.sources.Warc.revisitRecord(col("url"),
          col("own_rid"), col("fdate"), col("digest"))))
      .withColumn("saved_bytes", when(col("is_owner"), lit(0L))
        .otherwise(octet_length(col("payload")).cast("long")))
  }
}

/** One raw session event (top-level for clean Spark encoders/codegen). */
final case class SessionEvent(clientHost: String, ts: java.sql.Timestamp)

/** One attribution-stream event (either side of the D5 join). */
final case class AttrEvent(event_id: Long, user_id: Long, ts: java.sql.Timestamp)

/** Per-batch session progress; `closed` marks the timeout record. */
final case class SessionUpdate(
    clientHost: String,
    sessionStart: java.sql.Timestamp,
    events: Long,
    closed: Boolean)

/** Internal per-client state for gap sessionization. */
final case class SessionState(start: Long, last: Long, events: Long)

/** One corpus document row for driver-fed streaming harnesses (D9). */
final case class CorpusDoc(doc_id: Long, text: String)

/** One (doc, band) LSH hit flowing into the near-dup state (D9). */
final case class BandHit(doc_id: Long, band: Int, value: Long)

/** Near-dup verdict for one (doc, band): the bucket's owning doc id —
 * owner < doc_id means an earlier doc occupied this band (D9). */
final case class BandOwner(doc_id: Long, band: Int, owner: Long)

/** Internal per-(band,value) state: first owner's doc id (D9). */
final case class BucketOwner(id: Long)

/** One image document for driver-fed streaming harnesses (D21). */
final case class MediaDoc(doc_id: Long, img: Array[Byte])

/** One positioned n-gram occurrence flowing into the firewall (D31). */
final case class GramOcc(doc_id: Long, pos: Int, g: String)

/** [[GramOcc]] under `hashKeys` (r20): the state key is the gram's
 * xxhash64 — the batch ExactSubstr scale path's key — so the
 * state-store key and the grouping exchange carry 8 bytes instead of
 * the n-token gram string (D31). */
final case class GramOccK(doc_id: Long, pos: Int, gk: Long)

/** One corpus gram's batch-aggregated warm-start row (D31). */
final case class GramStateRow(g: String, c: Long, o: Long)

/** [[GramStateRow]] under `hashKeys` (r20, D31). */
final case class GramStateRowK(gk: Long, c: Long, o: Long)

/** Internal per-gram state: occurrences seen + min packed owner (D31). */
final case class GramOwnerState(count: Long, owner: Long)

/** One scrub decision: position `pos` in `doc_id` starts a duplicated
 * non-canonical n-gram — drop its [pos, pos+n−1] tokens (D31). */
final case class ScrubStart(doc_id: Long, pos: Int)

/** One (doc, band) key flowing into the leakage gate (D32): `bk` is
 * the comma-joined md5₅₂ slot values of the band. */
final case class BandKey(doc_id: Long, band: Int, bk: String)

/** [[BandKey]] under `hashKeys` (r20): `k` = xxhash64(band, bk) — the
 * state key and grouping exchange carry 8 bytes instead of the
 * "band:slot,slot" string (D32). */
final case class BandKeyK(doc_id: Long, band: Int, k: Long)

/** Marker state: the bucket holds train content (D32; read-only). */
final case class TrainMark(t: Int)

/** One leakage verdict: `doc_id`'s band `band` collides with a
 * train-occupied bucket (D32); zero hits ⇒ admissible. */
final case class LeakHit(doc_id: Long, band: Int)

/** One budget-stream input document (D12). */
final case class BudgetDoc(source: String, doc_id: Long, text: String)

/** Internal (source, doc, token-count) row after in-plan counting (D12). */
final case class BudgetTok(source: String, doc_id: Long, ntok: Long)

/** One admitted document: token count + the source's running total (D12). */
final case class BudgetAdmit(source: String, doc_id: Long, ntok: Long, cum_tokens: Long)

/** Internal per-source budget state: tokens admitted so far (D12). */
final case class BudgetUsed(t: Long)

/** One sample-stream input document (D15). */
final case class SampleDoc(source: String, doc_id: Long, text: String)

/** Internal (source, doc, content-hash) row after in-plan hashing (D15). */
final case class SampleTok(source: String, doc_id: Long, h: Long)

/** One admitted-to-reservoir event (D15): the doc entered the running
 * bottom-k when it arrived; the final sample is the bottom-k of these. */
final case class SampleAdmit(source: String, doc_id: Long, h: Long)

/** One (hash, id) reservoir key (D15). */
final case class SampleKey(h: Long, id: Long)

/** Internal per-source reservoir: the k smallest keys so far (D15). */
final case class SampleState(keys: Seq[SampleKey])

/** One quota-stream input row (D8). */
final case class FunnelEvent(
    user_id: Long, ts: java.sql.Timestamp, event_id: Long, event_type: String)

final case class FunnelTransition(user_id: Long, stage: Int, event_id: Long)

final case class FunnelState(stage: Int)

/** D25 input: one row per event with its rendered quasi-identifier key. */
final case class KAnonEvent(key: String, event_id: Long, ts: java.sql.Timestamp)

/** D25 output: a released row and its arrival rank within its group. */
final case class KAnonRelease(key: String, event_id: Long, seq: Long)

/** D25 state: group count + the ≤ k−1 still-buffered event ids. */
final case class KAnonGateState(n: Long, buffer: Seq[Long])

/** D24 input: one per-doc integer signal (e.g. token count) per source. */
final case class CusumEvent(source: String, doc_id: Long, ts: java.sql.Timestamp, x: Long)

/** D24 output: the two one-sided CUSUM statistics and alarm flags. */
final case class CusumPoint(source: String, doc_id: Long, n_tokens: Long,
    s_up: Long, s_dn: Long, alarm_up: Long, alarm_dn: Long)

/** D24 state: two longs per source, forever. */
final case class CusumState(up: Long, dn: Long)

final case class QuotaEvent(key: String, id: Long, ts: java.sql.Timestamp)

/** One admitted row: its key, id, and 1-based admission rank (D8). */
final case class QuotaAdmit(key: String, id: Long, quota_rank: Long)

/** Internal per-key quota state: rows admitted so far (D8). */
final case class QuotaCount(n: Long)

/** One arriving fetch, content-keyed for D36 ownership state; `ts` is
 * the event time when retention is enabled (null otherwise). */
final case class ArchiveFetch(url: String, rid: String, fdate: String,
  status: Int, mime: String, payload: Array[Byte], ord: Long,
  ts: java.sql.Timestamp, dk: Long, dl: Long, digest: String)

/** D36 keyed state: the payload family's owner record id. */
final case class ArchiveOwnerState(rid: String)

/** D36 ownership verdict, pre-record-assembly. */
final case class ArchiveOwned(url: String, rid: String, fdate: String,
  status: Int, mime: String, payload: Array[Byte], ord: Long,
  digest: String, is_owner: Boolean, own_rid: String)
