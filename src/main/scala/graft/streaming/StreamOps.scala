package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}

import graft.core.Sessions
import graft.ts.SeriesStore
import graft.ts.model.Period

/** Structured-Streaming analogs of the reference's hand-built micro-batch
  * loop (SURVEY.md §2.8 T1-T5): the collection cadence becomes a
  * `Trigger.ProcessingTime`, the read→store pipeline becomes `foreachBatch`
  * into the same last-wins SeriesStore merge, and late/duplicate points are
  * reconciled by the merge key — identical semantics to the batch path
  * (batch/stream unification).
  */
object StreamOps {

  /** T5: continuous collection — every micro-batch of points is merged into
    * the container with K1 last-wins semantics. At-least-once + idempotent
    * merge ⇒ effectively-once.
    */
  def collectStream(points: DataFrame, store: SeriesStore, container: String,
      triggerMs: Long = 1000): StreamingQuery =
    points.writeStream
      .outputMode(OutputMode.Append)
      .trigger(Trigger.ProcessingTime(triggerMs))
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        store.merge(container, batch.toDF()); ()
      }
      .start()

  /** Watermarked tumbling-window aggregation over a point stream (the
    * streaming twin of SeriesOps.minMaxCount). `tsNs` points are converted
    * to event-time timestamps only for the watermark clock.
    */
  def windowedStats(points: DataFrame, windowDur: String, watermark: String): DataFrame =
    points
      .withColumn("event_time", timestamp_micros(expr("ts div 1000"))) // exact ns→us (no double rounding)
      .withWatermark("event_time", watermark)
      .groupBy(window(col("event_time"), windowDur), col("series_id"))
      .agg(min("value").as("min_value"), max("value").as("max_value"),
        count(lit(1)).as("n_points"))

  /** T4 pure-streaming variant: drop duplicate points inside the stream
    * itself (watermark-bounded state) instead of relying on the idempotent
    * store merge downstream. The dedup key is the FULL point (value
    * included): two readings at one timestamp with different values are a
    * conflict for the store's last-wins merge to resolve, not duplicates to
    * drop arbitrarily here. The key includes the event-time column, so
    * Spark expires per-key state once the watermark passes it — bounded
    * state at any corpus size. Assumes the engine's µs-grid `ts` (exact
    * ns→µs, no collisions), like every other streaming operator here.
    */
  def dedupStream(points: DataFrame, watermark: String): DataFrame =
    points
      .withColumn("event_time", timestamp_micros(expr("ts div 1000")))
      .withWatermark("event_time", watermark)
      .dropDuplicates("series_id", "ts", "value", "event_time")
      .select("series_id", "ts", "value")

  /** T6 as a streaming-native restart path: a StreamingQueryListener that
    * watches ONE logical query and restarts it (via the supplied factory)
    * when it terminates WITH an exception — the reference's health-check →
    * restart loop (service_manager.py:39-50), driven by Spark's own
    * lifecycle events instead of polling. Restarts are capped; a clean
    * stop() never restarts. The restart runs on its own thread — listener
    * callbacks must not block the event bus.
    */
  final class StreamWatchdog(spark: SparkSession, start: () => StreamingQuery,
      maxRestarts: Int = 3)
      extends org.apache.spark.sql.streaming.StreamingQueryListener {
    import org.apache.spark.sql.streaming.StreamingQueryListener._

    @volatile private var current: StreamingQuery = _
    @volatile private var lastError: Option[Throwable] = None
    @volatile private var progress: Option[StreamProgress] = None
    // Registration and event handling share one lock: a query that crashes
    // instantly can emit its terminated event before the starter records
    // its id — the handler blocks on the lock until registration is done,
    // so no restart generation's event can slip past a stale id check.
    private val lock = new Object
    private var closed = false
    private val watchedIds = new java.util.HashSet[java.util.UUID]()
    private val restartCount = new java.util.concurrent.atomic.AtomicInteger(0)

    private def startRegistered(): StreamingQuery = lock.synchronized {
      if (closed)
        throw new IllegalStateException("watchdog is closed")
      val q = start()
      current = q
      watchedIds.add(q.id)
      q
    }

    /** Install the listener and start the watched query. */
    def startWatched(): StreamingQuery = {
      spark.streams.addListener(this)
      startRegistered()
    }

    def restarts: Int = restartCount.get()
    def query: StreamingQuery = current

    /** The failure that stopped the restart chain, if any (the factory
      * itself threw — e.g. checkpoint conflict). The watchdog cannot retry
      * past it; the caller decides.
      */
    def restartFailure: Option[Throwable] = lastError

    /** The last micro-batch any generation of the watched query reported
      * (None before its first progress event); other queries' progress is
      * ignored. Read off the listener's events: it costs no job.
      */
    def lastProgress: Option[StreamProgress] = progress

    /** Uninstall and fence: an in-flight restart that has not yet started
      * its query will refuse to (no orphan stream can appear after close
      * returns); the current query, if running, is left to the caller.
      */
    def close(): Unit = {
      lock.synchronized { closed = true }
      spark.streams.removeListener(this)
    }

    /** Counts a restart only while budget remains — a crash after the cap
      * does not inflate [[restarts]].
      */
    private def tryAcquireRestart(): Boolean = {
      var acquired = false
      var done = false
      while (!done) {
        val c = restartCount.get()
        if (c >= maxRestarts) done = true
        else if (restartCount.compareAndSet(c, c + 1)) { acquired = true; done = true }
      }
      acquired
    }

    override def onQueryStarted(event: QueryStartedEvent): Unit = ()
    override def onQueryProgress(event: QueryProgressEvent): Unit = {
      val p = event.progress
      if (lock.synchronized(watchedIds.contains(p.id)))
        progress = Some(StreamProgress(p.batchId, p.numInputRows, p.batchDuration))
    }
    override def onQueryIdle(event: QueryIdleEvent): Unit = ()

    override def onQueryTerminated(event: QueryTerminatedEvent): Unit = {
      val mine = lock.synchronized(watchedIds.contains(event.id))
      if (mine && event.exception.isDefined && tryAcquireRestart()) {
        val t = new Thread(() => {
          try startRegistered()
          catch {
            case _: IllegalStateException => () // closed while restarting
            case e: Throwable             => lastError = Some(e)
          }
        }, s"graft-stream-restart-${event.id}")
        t.setDaemon(true)
        t.start()
      }
    }
  }

  /** One micro-batch as [[StreamWatchdog.lastProgress]] keeps it: its id,
    * its input rows and its wall time in ms.
    */
  final case class StreamProgress(batchId: Long, numInputRows: Long, batchDurationMs: Long)

  final case class SeriesState(lastTs: Long, lastValue: Double,
      minValue: Double, maxValue: Double, n: Long)
  final case class PointIn(series_id: String, ts: Long, value: Double)
  final case class SeriesUpdate(series_id: String, lastTs: Long, lastValue: Double,
      minValue: Double, maxValue: Double, n: Long)

  final case class EwmaState(lastTs: Long, ewma: Double, n: Long)
  final case class EwmaUpdate(series_id: String, ts: Long, value: Double, ewma: Double)

  /** Streaming exponential smoothing: the RECURSIVE form
    * `y_i = α·y_{i−1} + (1−α)·x_i` (y_0 = x_0) that no batch window can
    * parallelize is exactly what per-key streaming state is for — one
    * double per series, O(1) per point. This is the unadjusted companion
    * of [[graft.ts.SeriesOps.ewma]]'s bounded-window adjusted form (the
    * two converge as the window fills: the adjusted correction term decays
    * as α^n). Points inside a micro-batch are processed in (ts, value)
    * order; a point at or before the series' last seen timestamp is
    * DROPPED (a recursion cannot retro-insert history — late data belongs
    * to the batch path), as are NaN samples.
    *
    * STATE RETENTION CONTRACT: by default (idleTimeoutMs = None) one
    * EwmaState per series is retained FOREVER — with unbounded series
    * cardinality the state store grows without bound in a long-running
    * stream. Pass `idleTimeoutMs = Some(ms)` to evict series idle longer
    * than `ms` of processing time (ProcessingTimeTimeout). Eviction resets
    * the recursion: a series that reappears after eviction restarts at
    * y_0 = its first new sample, and its late-point fence (lastTs) is
    * forgotten — acceptable exactly when the timeout exceeds the maximum
    * expected series silence.
    *
    * Operational note: with ProcessingTimeTimeout Spark schedules
    * micro-batches CONTINUOUSLY (shouldRunAnotherBatch is unconditionally
    * true — timeouts can always fire), so set an explicit trigger cadence
    * and do not drive such a query with `processAllAvailable()` in tests —
    * it never quiesces; poll the sink instead (StreamOpsSpec shows the
    * pattern).
    */
  def ewmaStream(points: Dataset[PointIn], alpha: Double = 0.5,
      idleTimeoutMs: Option[Long] = None): Dataset[EwmaUpdate] = {
    require(alpha > 0 && alpha < 1, s"alpha must be in (0,1), got $alpha")
    require(idleTimeoutMs.forall(_ > 0), s"idleTimeoutMs must be positive: $idleTimeoutMs")
    val spark = points.sparkSession
    import spark.implicits._
    val timeoutConf =
      if (idleTimeoutMs.isDefined) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    points.groupByKey(_.series_id)
      .flatMapGroupsWithState[EwmaState, EwmaUpdate](
        OutputMode.Append(), timeoutConf) {
        (key, batch, state: GroupState[EwmaState]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            var st = state.getOption.getOrElse(EwmaState(Long.MinValue, Double.NaN, 0L))
            val out = Vector.newBuilder[EwmaUpdate]
            batch.toVector.sortBy(p => (p.ts, p.value)).foreach { p =>
              if (p.ts > st.lastTs && !p.value.isNaN) {
                val e = if (st.n == 0) p.value else alpha * st.ewma + (1 - alpha) * p.value
                st = EwmaState(p.ts, e, st.n + 1)
                out += EwmaUpdate(key, p.ts, p.value, e)
              }
            }
            state.update(st)
            idleTimeoutMs.foreach(state.setTimeoutDuration)
            out.result().iterator
          }
      }
  }

  final case class BandRow(doc_id: Long, sh: Seq[String], band: Int, band_hash: Long)
  final case class BucketState(docs: Seq[(Long, Seq[String])])
  final case class DupPair(id_a: Long, id_b: Long, jaccard: Double)

  /** Streaming near-duplicate detection: the streaming face of
    * [[graft.pipeline.Dedup.minhashNearDups]]. Each document computes its
    * MinHash band buckets scan-side (the SAME banding expression as the
    * batch path — [[graft.pipeline.Dedup.bandExplode]]); per (band,
    * band_hash) bucket a stateful operator keeps the docs seen so far and
    * verifies each arriving doc against its bucket-mates by EXACT shingle
    * Jaccard — identical arithmetic to the batch kernel, so a pair scores
    * the same in both faces. Cross-band duplicate emissions collapse in a
    * stateful dropDuplicates on the pair key.
    *
    * Run on a BATCH frame this returns exactly `minhashNearDups(df)` — the
    * batch face is oracle-verified (`stream_near_dups` aliases the
    * `dedup_minhash` twin); run on a stream it emits a pair the moment its
    * second member arrives, pairing across micro-batches through the
    * bucket state — the "flag the duplicate ON INGEST" operator a
    * continuously-fed corpus runs in front of [[graft.pipeline.IncrementalDedup]].
    *
    * STATE RETENTION CONTRACT (same shape as [[ewmaStream]]): by default
    * bucket state holds every doc seen FOREVER — required for exactness
    * against the ever-growing corpus. `idleTimeoutMs` evicts buckets idle
    * longer than the window (ProcessingTimeTimeout); an evicted bucket
    * forgets its members, so a future near-dup of a forgotten doc goes
    * undetected — the deliberate recency-window trade a bounded-state
    * deployment makes. The pair-dedup state is keyed by emitted pairs
    * (grows with the duplicate count, not the corpus).
    */
  def nearDupStream(docs: DataFrame, shingleK: Int = 3, bands: Int = 8,
      rowsPerBand: Int = 4, threshold: Double = 0.5,
      idleTimeoutMs: Option[Long] = None): Dataset[DupPair] = {
    require(idleTimeoutMs.forall(_ > 0), s"idleTimeoutMs must be positive: $idleTimeoutMs")
    val spark = docs.sparkSession
    import spark.implicits._
    import graft.pipeline.{Dedup, TextOps}
    // null-sig drop via band_hash AFTER the explode, mirroring
    // Dedup.lshBuckets: a .where(sig.isNotNull) here would be pushed into
    // the scan and re-evaluate the MinHash kernel once per row for the
    // null check alone (a null sig yields null band_hash on every band,
    // so the post-explode filter drops exactly the same rows)
    val banded = docs
      .select(col("doc_id").cast("long").as("doc_id"),
        TextOps.textShingleSortedSet(col("text"), shingleK).as("sh"),
        Dedup.minhashSignature(col("text"), shingleK, bands * rowsPerBand).as("sig"))
      .select(col("doc_id"), col("sh"),
        Dedup.bandExplode(col("sig"), bands, rowsPerBand).as("bb"))
      .select(col("doc_id"), col("sh"),
        col("bb.band").as("band"), col("bb.band_hash").as("band_hash"))
      .where(col("band_hash").isNotNull)
      .as[BandRow]
    // exact sorted-distinct-array Jaccard: the same |∩| / (|A|+|B|-|∩|)
    // merge walk as the batch kernel (SortedArrayJaccard), same division
    // with no empty-set guard (unreachable: sig non-null ⇒ ≥1 shingle).
    // String compare is safe against the kernel's UTF8String byte order
    // because tokens are forced ASCII ([a-z0-9] runs), where Java's
    // UTF-16 compareTo and UTF-8 byte order coincide.
    def jacc(a: Seq[String], b: Seq[String]): Double = {
      var i = 0; var j = 0; var inter = 0
      while (i < a.length && j < b.length) {
        val c = a(i).compareTo(b(j))
        if (c == 0) { inter += 1; i += 1; j += 1 }
        else if (c < 0) i += 1
        else j += 1
      }
      inter.toDouble / (a.length + b.length - inter).toDouble
    }
    val timeoutConf =
      if (idleTimeoutMs.isDefined) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    banded.groupByKey(r => (r.band, r.band_hash))
      .flatMapGroupsWithState[BucketState, DupPair](
        OutputMode.Append(), timeoutConf) {
        (_, rows, state: GroupState[BucketState]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            var seen = state.getOption.map(_.docs).getOrElse(Vector.empty)
            val out = Vector.newBuilder[DupPair]
            // ingest-order determinism inside a micro-batch: by doc_id
            rows.toVector.sortBy(_.doc_id).foreach { r =>
              seen.foreach { case (oid, osh) =>
                if (oid != r.doc_id) {
                  val jv = jacc(osh, r.sh)
                  if (jv >= threshold)
                    out += DupPair(math.min(oid, r.doc_id), math.max(oid, r.doc_id), jv)
                }
              }
              seen = seen :+ (r.doc_id -> r.sh)
            }
            state.update(BucketState(seen))
            idleTimeoutMs.foreach(state.setTimeoutDuration)
            out.result().iterator
          }
      }
      .dropDuplicates("id_a", "id_b")
  }

  final case class LineRow(k: String, doc_id: Long, line_no: Int, line: String)
  final case class LineKeyState(seen: Boolean)
  final case class KeptLine(doc_id: Long, line_no: Int, line: String)

  /** Streaming CCNet line-level dedup: the ingest face of
    * [[graft.pipeline.TextOps.lineDedup]]'s first-occurrence rule. Each
    * arriving document explodes into non-empty line slots keyed by the
    * normalized content key (`lower(trim(line))` — the SAME key expression
    * as the batch path); per key a stateful operator emits the line ONCE —
    * the first occurrence — and drops every later arrival of the same
    * content across the whole stream. Determinism inside a micro-batch:
    * the kept slot is the (doc_id, line_no)-minimal one, which on a BATCH
    * frame (one "batch" containing everything) makes the operator exactly
    * the batch rule's first-occurrence pick — the `stream_line_dedup`
    * oracle recomputes it as `rn = 1` under that order. The global
    * boilerplate screen (`n_docs < boilerplateDf`) is deliberately NOT
    * here: it needs corpus-global line frequencies a bounded-state stream
    * cannot know; run [[graft.pipeline.TextOps.lineDedup]] over the
    * settled corpus for that verdict.
    *
    * STATE RETENTION CONTRACT (same shape as [[nearDupStream]]): one
    * boolean per distinct line key, forever by default — required for
    * exactness against the ever-growing corpus. `idleTimeoutMs` evicts
    * keys idle longer than the window (ProcessingTimeTimeout); an evicted
    * key's next occurrence is re-emitted as "first" — the recency-window
    * trade a bounded-state deployment makes.
    *
    * Output: (doc_id, line_no, line) — the kept line slots.
    */
  def lineDedupStream(docs: DataFrame,
      idleTimeoutMs: Option[Long] = None): Dataset[KeptLine] = {
    require(idleTimeoutMs.forall(_ > 0), s"idleTimeoutMs must be positive: $idleTimeoutMs")
    val spark = docs.sparkSession
    import spark.implicits._
    val lines = docs
      .select(col("doc_id").cast("long").as("doc_id"),
        posexplode(split(col("text"), "\n", -1)).as(Seq("line_no", "line")))
      .withColumn("k", lower(trim(col("line"))))
      .where(col("k") =!= "")
      .select("k", "doc_id", "line_no", "line")
      .as[LineRow]
    val timeoutConf =
      if (idleTimeoutMs.isDefined) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    lines.groupByKey(_.k)
      .flatMapGroupsWithState[LineKeyState, KeptLine](
        OutputMode.Append(), timeoutConf) {
        (_, rows, state: GroupState[LineKeyState]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val alreadySeen = state.exists
            state.update(LineKeyState(true))
            idleTimeoutMs.foreach(state.setTimeoutDuration)
            if (alreadySeen) Iterator.empty
            else {
              val first = rows.minBy(r => (r.doc_id, r.line_no))
              Iterator.single(KeptLine(first.doc_id, first.line_no, first.line))
            }
          }
      }
  }

  /** Per-domain crawl-rate windows AT INGEST — the streaming face of
    * [[graft.pipeline.WebOps.crawlRate]]: fetch counts per (registered
    * domain, tumbling event-time window) with the over-limit verdict,
    * maintained as a standard watermarked windowed aggregation (bounded
    * state: live windows × active domains; the watermark closes windows
    * and evicts their state). Window starts are epoch-aligned exactly
    * like the batch face's `(ms div windowMs) * windowMs`, so on a
    * static frame the output IS crawlRate's row set — the oracle row
    * runs this kernel in batch mode against the batch face's twin SQL.
    * `tsCol` is epoch-ns (the engine grid).
    */
  def crawlRateStream(fetches: DataFrame, windowMs: Long, maxFetches: Long,
      watermark: String, urlCol: String = "url",
      tsCol: String = "ts"): DataFrame = {
    require(windowMs > 0, s"windowMs must be positive, got $windowMs")
    require(maxFetches > 0, s"maxFetches must be positive, got $maxFetches")
    fetches
      .withColumn("event_time", timestamp_micros(expr(s"`$tsCol` div 1000")))
      .withWatermark("event_time", watermark)
      .groupBy(
        graft.pipeline.WebOps.urlDomain(col(urlCol)).as("domain"),
        window(col("event_time"), s"$windowMs milliseconds"))
      .agg(count(lit(1)).as("n_fetches"))
      .select(col("domain"),
        unix_millis(col("window.start")).as("window_start"),
        col("n_fetches"),
        (col("n_fetches") > maxFetches).as("over_limit"))
  }

  final case class FetchRow(event_id: Long, domain: String, arrival_ms: Long)
  final case class FetchSchedState(n: Long, m: Long)
  final case class FetchSlot(event_id: Long, domain: String, arrival_ms: Long,
      fetch_rank: Long, scheduled_ms: Long, wait_ms: Long)

  /** Politeness fetch scheduling AT INGEST — the streaming face of
    * [[graft.pipeline.WebOps.fetchSchedule]]: each arriving fetch gets
    * the earliest feasible slot under the per-domain minimum gap,
    * continuing the domain's recurrence across micro-batches. State per
    * registered domain is TWO LONGS — the fetch count `n` and the running
    * max `m = max_j(arrival_j − delay·j)` — the closed form of
    * `sched_i = max(arrival_i, sched_{i−1} + delay)`, so state never
    * grows with fetch volume. Within a batch a domain's rows are walked
    * in ascending id (the queue order; per-batch per-domain rows are
    * buffered to sort — bounded by the micro-batch, not the stream).
    * Emitted slots are FINAL (Append mode — a scheduled time is never
    * revised). Batch parity is exact on a static frame (one invocation
    * per domain from empty state == the batch recurrence); cross-batch
    * continuation matches the batch recompute whenever later batches
    * carry higher ids — the growing-crawl-queue contract, pinned in
    * StreamOpsSpec.
    */
  def fetchScheduleStream(fetches: DataFrame, delayMs: Long,
      urlCol: String = "url", idCol: String = "event_id",
      tsCol: String = "ts"): Dataset[FetchSlot] = {
    require(delayMs > 0, s"delayMs must be positive, got $delayMs")
    val spark = fetches.sparkSession
    import spark.implicits._
    val rows = fetches.select(col(idCol).cast("long").as("event_id"),
      graft.pipeline.WebOps.urlDomain(col(urlCol)).as("domain"),
      expr(s"`$tsCol` div 1000000").cast("long").as("arrival_ms"))
      .as[FetchRow]
    rows.groupByKey(_.domain)
      .flatMapGroupsWithState[FetchSchedState, FetchSlot](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (key, it, state: GroupState[FetchSchedState]) =>
          var n = state.getOption.map(_.n).getOrElse(0L)
          var m = state.getOption.map(_.m).getOrElse(Long.MinValue)
          val out = it.toArray.sortBy(_.event_id).map { r =>
            val v = r.arrival_ms - delayMs * n
            if (v > m) m = v
            val sched = delayMs * n + m
            val slot = FetchSlot(r.event_id, key, r.arrival_ms, n, sched,
              sched - r.arrival_ms)
            n += 1
            slot
          }
          if (out.nonEmpty) state.update(FetchSchedState(n, m))
          out.iterator
      }
  }

  final case class UrlRow(canonical_url: String, doc_id: Long)
  final case class UrlIdState(keeper: Long, n: Long)
  final case class UrlIdentity(canonical_url: String, keeper_doc_id: Long,
      n_variants: Long)

  /** Streaming URL-identity dedup — the crawl-ingest face of
    * [[graft.pipeline.WebOps.urlDedup]]: refetches arriving across
    * micro-batches collapse onto their canonical identity
    * ([[graft.pipeline.WebOps.canonicalizeUrl]] as a stateless narrow map
    * riding the ingest), and per canonical key the state is TWO LONGS —
    * keeper id (min doc id seen) and variant count — bounded by #distinct
    * pages, never by fetch volume. Each batch emits the UPDATED identity
    * row for keys it touched (the running crawl-dedup report; the last
    * emission per key is the batch answer). Batch parity is exact: on a
    * static frame every group is one invocation from empty state, so the
    * output IS urlDedup's row set (the stream_pq_addbatch gate pattern —
    * the oracle row runs this kernel in batch mode against the batch
    * face's twin SQL).
    */
  def urlDedupStream(docs: DataFrame, urlCol: String = "url",
      idCol: String = "doc_id"): Dataset[UrlIdentity] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val rows = docs.select(
        graft.pipeline.WebOps.canonicalizeUrl(col(urlCol))
          .as("canonical_url"),
        col(idCol).cast("long").as("doc_id")).as[UrlRow]
    rows.groupByKey(_.canonical_url)
      .flatMapGroupsWithState[UrlIdState, UrlIdentity](
        OutputMode.Update(), GroupStateTimeout.NoTimeout) {
        (key, it, state: GroupState[UrlIdState]) =>
          var keeper = state.getOption.map(_.keeper).getOrElse(Long.MaxValue)
          var n = state.getOption.map(_.n).getOrElse(0L)
          var touched = false
          it.foreach { r =>
            touched = true
            if (r.doc_id < keeper) keeper = r.doc_id
            n += 1
          }
          if (!touched) Iterator.empty
          else {
            state.update(UrlIdState(keeper, n))
            Iterator.single(UrlIdentity(key, keeper, n))
          }
      }
  }

  final case class ConvRow(conv_hash: String, conv_id: Long)
  final case class ConvIdState(keeper: Long, n: Long)
  final case class ConvIdentity(conv_hash: String, keeper_conv_id: Long,
      n_copies: Long)

  /** Streaming conversation dedup — the SFT-ingest face of
    * [[graft.pipeline.ChatOps.conversationDedup]]: conversations arriving
    * across micro-batches collapse onto their rendered identity. The
    * stream carries one row per ALREADY-RENDERED conversation
    * `(conv_id, text)` — an SFT ingest record is a whole conversation, and
    * [[graft.pipeline.ChatOps.renderChat]]'s template is per-record narrow
    * work at that point — so the md5 identity key is a stateless map
    * riding the ingest, and per rendered identity the state is TWO LONGS
    * (keeper conv id + copy count), bounded by #distinct conversations.
    * Each batch emits the updated identity row for keys it touched; batch
    * parity is exact (one invocation per group from empty state — the
    * [[urlDedupStream]] pattern, and the oracle row runs this kernel in
    * batch mode against the batch face's twin SQL).
    */
  def convDedupStream(convs: DataFrame, idCol: String = "conv_id",
      textCol: String = "text"): Dataset[ConvIdentity] = {
    val spark = convs.sparkSession
    import spark.implicits._
    val rows = convs.select(md5(col(textCol)).as("conv_hash"),
      col(idCol).cast("long").as("conv_id")).as[ConvRow]
    rows.groupByKey(_.conv_hash)
      .flatMapGroupsWithState[ConvIdState, ConvIdentity](
        OutputMode.Update(), GroupStateTimeout.NoTimeout) {
        (key, it, state: GroupState[ConvIdState]) =>
          var keeper = state.getOption.map(_.keeper).getOrElse(Long.MaxValue)
          var n = state.getOption.map(_.n).getOrElse(0L)
          var touched = false
          it.foreach { r =>
            touched = true
            if (r.conv_id < keeper) keeper = r.conv_id
            n += 1
          }
          if (!touched) Iterator.empty
          else {
            state.update(ConvIdState(keeper, n))
            Iterator.single(ConvIdentity(key, keeper, n))
          }
      }
  }

  /** Blocklist gate on a crawl-ingest stream — the streaming face of
    * [[graft.pipeline.WebOps.blocklistFilter]]: documents from blocked
    * registered domains / canonical-URL prefixes are dropped the moment
    * they arrive, BEFORE any content processing or state. Because the
    * batch operator is a narrow map (canonical identities) plus two
    * STREAM-STATIC broadcast anti-joins (the blocklist is a bounded batch
    * relation, read once at plan time and frozen for the stream's
    * lifetime — restart to pick up new rules), the SAME operator runs
    * unmodified on a streaming frame: no state, no watermark, exact batch
    * parity by construction. StreamOpsSpec drives it as a real
    * MemoryStream.
    */
  def blocklistStream(docs: DataFrame, blocklist: DataFrame,
      urlCol: String = "url"): DataFrame =
    graft.pipeline.WebOps.blocklistFilter(docs, blocklist, urlCol)

  /** Robots-rules verdicts on a crawl-ingest stream — the streaming face
    * of [[graft.pipeline.WebOps.robotsEval]]: each arriving URL gets its
    * (allowed, matched_prefix) verdict under longest-match/allow-tie REP
    * semantics. The rules side is a bounded batch relation pre-grouped to
    * per-domain arrays and broadcast (stream-static equi-join), and the
    * verdict itself is a per-row fold over that domain's few rules — a
    * stateless narrow map, so the batch operator runs unmodified on a
    * streaming frame with exact batch parity (restart the stream to pick
    * up re-fetched robots rules). StreamOpsSpec drives it as a real
    * MemoryStream.
    */
  def robotsStream(docs: DataFrame, rules: DataFrame,
      urlCol: String = "url"): DataFrame =
    graft.pipeline.WebOps.robotsEval(docs, rules, urlCol)

  /** Frozen-classifier scoring on a document stream — model-in-the-loop
    * curation AT INGEST (the CCNet/fastText filter applied before a
    * document ever lands in the corpus). Because
    * [[graft.pipeline.TextOps.logregScoreFrozen]] is a NARROW map (the
    * LogregLogit kernel scores each document in one JVM call against
    * driver-literal weights — no shuffle, no aggregation, no state), the
    * SAME operator runs unmodified on a streaming frame: this face just
    * documents and pins that property. The model is a BATCH relation
    * (read once at plan time, frozen for the query's lifetime — restart
    * the stream to pick up a retrained model). Batch parity is exact by
    * construction: there is no state to diverge.
    */
  def scoreStream(docs: DataFrame, model: DataFrame,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    graft.pipeline.TextOps.logregScoreFrozen(docs, model, idCol, textCol)

  final case class SemVecRow(vec_id: Long, cell: Long, v: Seq[Double])
  final case class SemCellState(vecs: Seq[(Long, Seq[Double])])
  final case class SemDupPair(cell: Long, id_a: Long, id_b: Long, cos_sim: Double)

  /** Streaming SEMANTIC near-duplicate detection: the streaming face of
    * [[graft.pipeline.Similarity.embeddingNearDups]] over a FROZEN
    * centroid codebook — the ingest-time companion of
    * [[graft.pipeline.IncrementalSemDedup]] (same frozen-codebook policy:
    * the coarse cells are trained once and never retrained by the stream).
    * Each arriving vector routes to its nearest centroid (driver-local
    * argmin over the metadata-scale codebook with EXACTLY the batch
    * assignment's arithmetic: left-to-right squared-L2 fold, (dist,
    * cluster) tie-break) and compares against the vectors its cell has
    * seen so far by the same single-pass cosine as the VecCosine kernel —
    * a paraphrase-level duplicate is flagged the moment its second member
    * arrives, pairing across micro-batches through the cell state.
    *
    * Run on a BATCH frame this returns exactly
    * `embeddingNearDups(assignToCentroids(...), threshold, cellCol =
    * "cluster")` (the `stream_sem_dups` gate aliases that twin). STATE
    * RETENTION CONTRACT (same as [[nearDupStream]]): by default a cell
    * remembers every vector forever — required for exactness;
    * `idleTimeoutMs` trades completeness for bounded state. Cells are the
    * SemDeDup blocking structure, so per-cell state is the cell's corpus
    * share; at 100 TB the codebook's k scales with the corpus to bound it.
    */
  def semanticDupStream(vecs: DataFrame, centroids: Seq[(Long, Seq[Double])],
      threshold: Double, idCol: String = "vec_id",
      vecCol: String = "embedding",
      idleTimeoutMs: Option[Long] = None): Dataset[SemDupPair] = {
    require(centroids.nonEmpty, "centroids must be non-empty")
    require(idleTimeoutMs.forall(_ > 0), s"idleTimeoutMs must be positive: $idleTimeoutMs")
    val spark = vecs.sparkSession
    import spark.implicits._
    val cents: Array[(Long, Array[Double])] =
      centroids.sortBy(_._1).map { case (c, v) => (c, v.toArray) }.toArray
    // UNBOXED kernels: the decoded Seq[Double] pays a virtual boxed
    // apply() per element inside the per-cell quadratic scan (measured
    // ~7 µs/pair — ~100× the primitive loop); converting each vector to
    // Array[Double] ONCE (per ingest row / per state load) makes the hot
    // loop primitive. Arithmetic is unchanged: same element order, same
    // double accumulation, so every emitted cosine is bit-identical.
    def bestCell(v: Array[Double]): Long = {
      var bestC = -1L
      var bestD = Double.PositiveInfinity
      cents.foreach { case (c, cv) =>
        // same fold as Similarity.sqDist: (x-y)^2 accumulated in element
        // order from 0.0; ties to the lowest cluster id (cents sorted asc,
        // strict < keeps the first == lowest)
        var d = 0.0
        var i = 0
        val n = math.min(v.length, cv.length)
        while (i < n) { val t = v(i) - cv(i); d += t * t; i += 1 }
        if (d < bestD) { bestD = d; bestC = c }
      }
      bestC
    }
    // same single-pass accumulation as the VecCosine kernel
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      val n = math.min(a.length, b.length)
      while (i < n) {
        val x = a(i); val y = b(i)
        dot += x * y; na += x * x; nb += y * y; i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val routed = vecs
      .select(col(idCol).cast("long").as("vec_id"),
        col(vecCol).cast("array<double>").as("v"))
      .as[(Long, Seq[Double])]
      .map { case (id, v) => SemVecRow(id, bestCell(v.toArray), v) }
    val timeoutConf =
      if (idleTimeoutMs.isDefined) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    routed.groupByKey(_.cell)
      .flatMapGroupsWithState[SemCellState, SemDupPair](
        OutputMode.Append(), timeoutConf) {
        (cell, rows, state: GroupState[SemCellState]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            var seen: Vector[(Long, Array[Double])] = state.getOption
              .map(_.vecs.iterator.map { case (i, v) => (i, v.toArray) }.toVector)
              .getOrElse(Vector.empty)
            val out = Vector.newBuilder[SemDupPair]
            // ingest-order determinism inside a micro-batch: by vec_id
            rows.toVector.sortBy(_.vec_id).foreach { r =>
              val rv = r.v.toArray
              seen.foreach { case (oid, ov) =>
                if (oid != r.vec_id) {
                  val cv = cos(ov, rv)
                  if (cv >= threshold)
                    out += SemDupPair(cell, math.min(oid, r.vec_id),
                      math.max(oid, r.vec_id), cv)
                }
              }
              seen = seen :+ (r.vec_id -> rv)
            }
            state.update(SemCellState(seen.map { case (i, a) =>
              (i, scala.collection.immutable.ArraySeq.unsafeWrapArray(a): Seq[Double])
            }))
            idleTimeoutMs.foreach(state.setTimeoutDuration)
            out.result().iterator
          }
      }
  }

  final case class AnnProbe(query_id: Long, v: Seq[Double], cell: Long)
  final case class AnnCand(query_id: Long, v: Seq[Double], neighbor_id: Long,
    subspace: Int, cluster: Int)
  final case class AnnHit(query_id: Long, neighbor_id: Long, rank: Int,
    adc_dist: Double)

  /** Streaming ANN serving over a FROZEN IVF-PQ index — the online face
    * of [[graft.pipeline.Similarity.ivfPqAdcTopKFrozen]], for the
    * retrieval-at-ingest shape (each arriving query vector is answered
    * from the persisted index; nothing retrains): the query probes the
    * frozen cell centroids (driver-literal, metadata-scale — the
    * [[semanticDupStream]] frozen-codebook policy) with EXACTLY the batch
    * probe's arithmetic (VecCosine's one-pass fold, csim desc / cell asc,
    * NaN ordered greatest like Spark's desc), fans out to its `nprobe`
    * cells, stream-static-joins the frozen code table on the cell key —
    * so unprobed cells never enter the stream — and a per-query group
    * computes the subspace-ordered ADC sums and the (adc asc, id asc)
    * top-k with the batch fold's exact float-op sequence. The group
    * function folds the candidate iterator INCREMENTALLY: per-query
    * executor memory is O(#neighbors·m) accumulated (subspace, dist)
    * slots plus the memoized distance table — never the raw candidate
    * rows (which carry a query-vector copy each and grow with corpus
    * size at fixed #cells).
    *
    * Run on a BATCH frame this returns exactly `ivfPqAdcTopKFrozen`
    * (the `stream_ann_topk` gate's twin recomputes the same arithmetic
    * from the same frozen parquet). Contract: one arrival per query id —
    * a query id re-arriving in a later micro-batch is served again
    * against that batch alone (serving is stateless by design: the index
    * is frozen, so there is nothing to remember between queries). A
    * query whose dimension disagrees with the frozen geometry raises
    * (the [[graft.pipeline.Similarity.pqAdcTopKFrozen]] serving guard).
    */
  def annServeStream(queries: DataFrame, cells: Seq[(Long, Seq[Double])],
      codebooks: Seq[(Int, Int, Seq[Double])], codes: DataFrame,
      topK: Int, nprobe: Int, idCol: String = "vec_id",
      vecCol: String = "embedding"): Dataset[AnnHit] = {
    require(topK >= 1, s"topK must be >= 1, got $topK")
    require(nprobe >= 1, s"nprobe must be >= 1, got $nprobe")
    require(cells.nonEmpty, "cells must be non-empty")
    require(codebooks.nonEmpty, "codebooks must be non-empty")
    val spark = queries.sparkSession
    import spark.implicits._
    val m = codebooks.map(_._1).distinct.size
    require(codebooks.map(_._1).toSet == (0 until m).toSet,
      s"codebooks must cover subspaces 0..${m - 1}")
    val subs = codebooks.map(_._3.length).toSet
    require(subs.size == 1,
      s"all codebook centroids must share one width, got $subs")
    val sub = subs.head
    // geometry guard on the FROZEN CELLS too: a mis-shaped cells relation
    // (centroid width != m·sub) would silently truncate the probe fold
    // and diverge from the batch probe — fail loudly at construction,
    // like the query-side dimension guard below
    require(cells.forall(_._2.length == m * sub),
      s"every frozen cell centroid must have the model's m*sub = ${m * sub} " +
        s"dimensions, got widths ${cells.map(_._2.length).distinct.sorted}")
    val cents: Array[(Long, Array[Double])] =
      cells.map { case (c, v) => (c, v.toArray) }.toArray
    val cbMap: Map[(Int, Int), Array[Double]] =
      codebooks.map { case (j, c, v) => (j, c) -> v.toArray }.toMap
    // VecCosine's exact fold (dot/na/nb accumulated per element in order)
    def cos(a: Seq[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      val n = math.min(a.length, b.length)
      while (i < n) {
        val x = a(i); val y = b(i)
        dot += x * y; na += x * x; nb += y * y; i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    // VecSqDist's exact fold over one subspace slice
    def sqd(v: Seq[Double], j: Int, c: Array[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < sub) { val t = v(j * sub + i) - c(i); acc += t * t; i += 1 }
      acc
    }
    val probed = queries
      .select(col(idCol).cast("long").as("query_id"),
        col(vecCol).cast("array<double>").as("v"))
      .as[(Long, Seq[Double])]
      .flatMap { case (qid, v) =>
        if (v.length != m * sub) throw new IllegalArgumentException(
          s"query vector dimension ${v.length} must equal the frozen " +
            s"model's m*sub = ${m * sub}")
        cents.map { case (c, cv) => (c, cos(v, cv)) }
          .sortWith { (a, b) =>
            val cmp = java.lang.Double.compare(a._2, b._2)
            if (cmp != 0) cmp > 0 else a._1 < b._1
          }
          .take(nprobe)
          .map { case (c, _) => AnnProbe(qid, v, c) }
      }
    val cand = probed.toDF()
      .join(codes.select(col("cell").cast("long").as("cell"),
        col("vec_id").as("neighbor_id"),
        col("subspace").cast("int").as("subspace"),
        col("cluster").cast("int").as("cluster")), "cell")
      .select(col("query_id"), col("v"), col("neighbor_id"),
        col("subspace"), col("cluster"))
      .as[AnnCand]
    cand.groupByKey(_.query_id)
      .flatMapGroupsWithState[Boolean, AnnHit](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (qid, rows, _: GroupState[Boolean]) =>
          // INCREMENTAL fold over the candidate iterator — never
          // materialize the candidate row set (m·nprobe·(n/#cells) rows,
          // each carrying a deserialized copy of the query vector: at real
          // corpus sizes a toVector here is hundreds of MB of executor
          // heap per in-flight query). Retained state is O(#neighbors·m):
          // one (subspace, dist) slot per neighbor code — the distances
          // are memoized per (subspace, cluster), and the query vector is
          // kept ONCE from the first row. The final per-neighbor sum runs
          // subspace-ordered from 0.0 — the batch fold's exact float-op
          // sequence — so this face stays bit-equal to ivfPqAdcTopKFrozen.
          if (!rows.hasNext) Iterator.empty
          else {
            var v: Seq[Double] = null
            // per-(subspace, cluster) distance table, memoized per query
            val dt = scala.collection.mutable.HashMap.empty[(Int, Int), Double]
            // neighbor -> its (subspace, dist) pairs, filled as rows stream
            val perN = scala.collection.mutable.HashMap
              .empty[Long, scala.collection.mutable.ArrayBuffer[(Int, Double)]]
            rows.foreach { c =>
              if (v == null) v = c.v
              if (c.neighbor_id != qid) {
                val d = dt.getOrElseUpdate((c.subspace, c.cluster),
                  sqd(v, c.subspace, cbMap((c.subspace, c.cluster))))
                perN.getOrElseUpdate(c.neighbor_id,
                  scala.collection.mutable.ArrayBuffer.empty) += ((c.subspace, d))
              }
            }
            val scoredN = perN.iterator
              .map { case (nid, ds0) =>
                // subspace-ordered sum from 0.0 — the batch fold's order
                // (stable sort: ties keep arrival order, as the batch
                // face's sortBy does)
                val ds = ds0.sortBy(_._1)
                var acc = 0.0
                ds.foreach { case (_, d) => acc += d }
                (nid, acc)
              }
              .toVector
              .sortWith { (a, b) =>
                val cmp = java.lang.Double.compare(a._2, b._2)
                if (cmp != 0) cmp < 0 else a._1 < b._1
              }
            scoredN.take(topK).zipWithIndex.map { case ((nid, d), i) =>
              AnnHit(qid, nid, i + 1, d)
            }.iterator
          }
      }
  }

  final case class PqCode(vec_id: Long, subspace: Int, cluster: Long,
    dist: Double)

  /** Streaming PQ-index MAINTENANCE — the online face of
    * [[graft.pipeline.Similarity.pqEncodeFrozen]], for the
    * encode-at-arrival shape (each arriving vector is encoded against the
    * persisted codebooks; nothing retrains): per subspace slice the
    * argmin cluster by squared L2 with EXACTLY the training assignment's
    * arithmetic — VecSqDist's element-order fold over the slice, clusters
    * scanned ascending so equal distances keep the smallest cluster (the
    * batch assignStep's (dist, cluster) struct-min tie-break) — so codes
    * produced at ingest are indistinguishable from codes the original
    * training would have assigned. Codebooks are driver-literal
    * (metadata-scale, the [[annServeStream]] frozen-model policy); the op
    * is a stateless narrow map, so it runs identically on a batch frame
    * (the `stream_pq_addbatch` gate aliases the `sim_pq_addbatch` twin)
    * and on a stream in Append mode with zero state. A vector whose
    * dimension disagrees with the frozen geometry raises (the
    * pqEncodeFrozen guard). Output: (vec_id, subspace, cluster, dist),
    * one row per (vector, subspace).
    */
  def pqEncodeStream(vecs: DataFrame,
      codebooks: Seq[(Int, Long, Seq[Double])], idCol: String = "vec_id",
      vecCol: String = "embedding"): Dataset[PqCode] = {
    require(codebooks.nonEmpty, "codebooks must be non-empty")
    val spark = vecs.sparkSession
    import spark.implicits._
    val m = codebooks.map(_._1).distinct.size
    require(codebooks.map(_._1).toSet == (0 until m).toSet,
      s"codebooks must cover subspaces 0..${m - 1}")
    val subs = codebooks.map(_._3.length).toSet
    require(subs.size == 1,
      s"all codebook centroids must share one width, got $subs")
    val sub = subs.head
    // per subspace, clusters ASCENDING: scanning order IS the tie-break
    val cbArr: Array[Array[(Long, Array[Double])]] =
      (0 until m).map(j => codebooks.filter(_._1 == j).sortBy(_._2)
        .map { case (_, c, v) => (c, v.toArray) }.toArray).toArray
    vecs.select(col(idCol).cast("long").as("vec_id"),
        col(vecCol).cast("array<double>").as("v"))
      .as[(Long, Seq[Double])]
      .flatMap { case (id, v) =>
        if (v.length != m * sub) throw new IllegalArgumentException(
          s"vector dimension ${v.length} must equal the frozen " +
            s"model's m*sub = ${m * sub}")
        (0 until m).iterator.map { j =>
          var bestC = -1L; var bestD = 0.0; var first = true
          cbArr(j).foreach { case (c, cent) =>
            // VecSqDist's exact fold over the subspace slice
            var acc = 0.0; var i = 0
            while (i < sub) {
              val t = v(j * sub + i) - cent(i); acc += t * t; i += 1
            }
            if (first || java.lang.Double.compare(acc, bestD) < 0) {
              bestC = c; bestD = acc; first = false
            }
          }
          PqCode(id, j, bestC, bestD)
        }
      }
  }

  /** One micro-batch of [[pqEncodeAppendSink]], IDEMPOTENT per
    * `batchId`: Structured Streaming's foreachBatch is at-least-once —
    * after a failure/restart the SAME batch id replays — so a blind
    * parquet append would land duplicate (vec_id, subspace) code rows in
    * the frozen relation and silently corrupt downstream ADC scoring
    * (duplicated subspace distances inflate per-neighbor sums). The
    * batch's codes therefore land under DETERMINISTIC per-batch file
    * names inside the model partition (`ingest-b<batchId>-p<i>.parquet`):
    * a replay first deletes whatever files an interrupted attempt left
    * for this batch id, then renames the fresh staging output to the
    * same names — re-running any prefix of the sequence converges to
    * exactly-once file contents (the foreachBatch exactly-once recipe).
    * Files are written WITHOUT the partition column (the `model_id=`
    * directory carries it), matching what `partitionBy` bootstrap writes
    * put inside the partition.
    */
  def pqEncodeAppendBatch(batch: DataFrame,
      codebooks: Seq[(Int, Long, Seq[Double])], base: String,
      modelId: String, batchId: Long,
      idCol: String = "vec_id", vecCol: String = "embedding"): Unit = {
    val s = batch.sparkSession
    val shuffleN = Sessions.partsOf(s)
    val hconf = s.sparkContext.hadoopConfiguration
    val dest = new org.apache.hadoop.fs.Path(s"$base/codes/model_id=$modelId")
    val fs = dest.getFileSystem(hconf)
    val staging =
      new org.apache.hadoop.fs.Path(s"$base/_staging/$modelId/b$batchId")
    fs.delete(staging, true)
    // stage with the FROZEN codes relation's exact schema
    // (vec_id, subspace, cluster): the per-subspace dist is a batch
    // diagnostic, and appending it would fork the relation's schema
    // against the bootstrap rows pqFreeze wrote
    pqEncodeStream(batch, codebooks, idCol, vecCol).toDF()
      .select(col("vec_id"), col("subspace"), col("cluster"))
      .repartition(shuffleN, col("vec_id"))
      .write.mode("overwrite").parquet(staging.toString)
    if (!fs.exists(dest)) fs.mkdirs(dest)
    // remove any earlier attempt's files for THIS batch id, then move in
    val old = fs.globStatus(
      new org.apache.hadoop.fs.Path(dest, s"ingest-b$batchId-*"))
    if (old != null) old.foreach(st => fs.delete(st.getPath, false))
    val parts = fs.globStatus(
      new org.apache.hadoop.fs.Path(staging, "part-*"))
    (if (parts == null) Array.empty[org.apache.hadoop.fs.FileStatus]
     else parts).sortBy(_.getPath.getName).zipWithIndex.foreach {
      case (st, i) =>
        fs.rename(st.getPath,
          new org.apache.hadoop.fs.Path(dest, s"ingest-b$batchId-p$i.parquet"))
    }
    fs.delete(staging, true)
  }

  /** The ingest half wired to storage: encode each arriving micro-batch
    * against the frozen codebooks ([[pqEncodeStream]]) and APPEND the new
    * codes to the frozen model's code relation under its `model_id`
    * partition — the [[graft.pipeline.Similarity.pqFreeze]] layout, so
    * serving reads never distinguish bootstrap codes from ingested ones.
    * Cost per micro-batch is proportional to the BATCH (m broadcast-free
    * local argmins per vector), never the corpus or the index; each
    * batch commits idempotently by batch id ([[pqEncodeAppendBatch]]),
    * so at-least-once replay cannot duplicate code rows.
    */
  def pqEncodeAppendSink(vecs: DataFrame,
      codebooks: Seq[(Int, Long, Seq[Double])], base: String,
      modelId: String, triggerMs: Long = 1000,
      idCol: String = "vec_id", vecCol: String = "embedding"): StreamingQuery =
    vecs.writeStream
      .outputMode(OutputMode.Append)
      .trigger(Trigger.ProcessingTime(triggerMs))
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        pqEncodeAppendBatch(batch.toDF(), codebooks, base, modelId,
          batchId, idCol, vecCol)
      }
      .start()

  /** Custom per-series running state (last/min/max/count) via
    * mapGroupsWithState — the streaming "current dashboard value" of the
    * reference (A1/A2 continuously maintained).
    */
  def runningStats(points: Dataset[PointIn]): Dataset[SeriesUpdate] = {
    val spark = points.sparkSession
    import spark.implicits._
    points.groupByKey(_.series_id)
      .mapGroupsWithState[SeriesState, SeriesUpdate](GroupStateTimeout.NoTimeout) {
        (key, batch, state: GroupState[SeriesState]) =>
          val prev = state.getOption.getOrElse(
            SeriesState(Long.MinValue, Double.NaN, Double.PositiveInfinity,
              Double.NegativeInfinity, 0L))
          val next = batch.foldLeft(prev) { (s, p) =>
            SeriesState(
              lastTs = math.max(s.lastTs, p.ts),
              lastValue = if (p.ts >= s.lastTs) p.value else s.lastValue,
              minValue = math.min(s.minValue, p.value),
              maxValue = math.max(s.maxValue, p.value),
              n = s.n + 1)
          }
          state.update(next)
          SeriesUpdate(key, next.lastTs, next.lastValue, next.minValue,
            next.maxValue, next.n)
      }
  }

  final case class KmvIn(grp: String, h: Long)
  final case class KmvState(hs: Vector[Long])
  final case class KmvEstimate(grp: String, n_kept: Long, kth_min: Long,
      est_distinct: Double)

  /** Streaming KMV distinct-count sketch: per group, the k smallest
    * distinct mixed hashes seen so far ([[graft.pipeline.Sketches.kmvHash]]
    * — same mixer as the batch face), re-estimated on every micro-batch
    * that touches the group. The live "distinct users so far" dashboard
    * figure, at O(k) state per group instead of the full distinct set a
    * streaming exact count would hold — the whole point of a sketch in a
    * stream.
    *
    * Run on a BATCH frame this emits exactly
    * [[graft.pipeline.Sketches.kmvDistinct]] (one "micro-batch" per group;
    * same merge, same estimator — the `stream_kmv` gate aliases the
    * `sketch_kmv` oracle). Run on a stream it emits the group's refreshed
    * estimate per micro-batch (Append mode), each strictly refining the
    * last: the k-min merge is associative and insensitive to arrival
    * order, so the final estimate equals the batch estimate over the
    * union of all batches regardless of how rows were split — pinned by
    * StreamOpsSpec.
    *
    * STATE RETENTION CONTRACT: state is a FIXED k longs per group —
    * unbounded group cardinality is the only growth axis. `idleTimeoutMs`
    * evicts idle groups (ProcessingTimeTimeout); an evicted group restarts
    * its sketch from empty, UNDER-estimating until it re-fills — the
    * recency trade a bounded-state deployment makes explicit.
    */
  final case class HllIn(grp: String, idx: Int, rho: Int)
  final case class HllState(regs: Map[Int, Int])
  final case class HllEstimate(grp: String, n_registers_hit: Long, est_distinct: Double)

  /** Streaming HyperLogLog: the streaming face of
    * [[graft.pipeline.Sketches.hllDistinct]]. Register index and rank come
    * from the SAME shared column derivation as the batch sketch
    * (`Sketches.hllIdx`/`hllRho`), per-group state is the sparse
    * register→max-rank map (bounded by 2^p entries of constant size —
    * unlike KMV's k-list this never re-sorts), and each micro-batch emits
    * a refined estimate through the shared `Sketches.hllEstimate` formula.
    * Register max-merge is associative and duplicate/order-insensitive, so
    * the final estimate equals the batch estimate over the union of all
    * batches however rows were split — and on a BATCH frame this returns
    * exactly `hllDistinct(df)` (the `stream_hll` oracle aliases
    * `sketch_hll`, pinning the two faces hash-equal).
    *
    * STATE RETENTION CONTRACT (same shape as [[kmvStream]]): fixed ≤ 2^p
    * ints per group; `idleTimeoutMs` evicts idle groups, which restart
    * from empty and under-estimate until re-filled.
    */
  def hllStream(df: DataFrame, p: Int = 10, groupCol: String, valueCol: String,
      idleTimeoutMs: Option[Long] = None): Dataset[HllEstimate] = {
    require(p >= 7 && p <= 16, s"hllStream needs p in [7, 16], got $p")
    require(idleTimeoutMs.forall(_ > 0), s"idleTimeoutMs must be positive: $idleTimeoutMs")
    val spark = df.sparkSession
    import spark.implicits._
    import graft.pipeline.Sketches
    val rows = df.select(col(groupCol).cast("string").as("grp"),
      Sketches.hllIdx(valueCol, p).cast("int").as("idx"),
      Sketches.hllRho(valueCol, p).as("rho")).as[HllIn]
    val timeoutConf =
      if (idleTimeoutMs.isDefined) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    rows.groupByKey(_.grp)
      .flatMapGroupsWithState[HllState, HllEstimate](
        OutputMode.Append(), timeoutConf) {
        (grp, batch, state: GroupState[HllState]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            var regs = state.getOption.map(_.regs).getOrElse(Map.empty[Int, Int])
            batch.foreach { r =>
              if (r.rho > regs.getOrElse(r.idx, 0)) regs = regs.updated(r.idx, r.rho)
            }
            state.update(HllState(regs))
            idleTimeoutMs.foreach(state.setTimeoutDuration)
            val (hit, est) = Sketches.hllEstimate(p, regs.values)
            Iterator.single(HllEstimate(grp, hit, est))
          }
      }
  }

  final case class CmsIn(j: Int, bucket: Long)
  final case class CmsState(cnt: Long)
  final case class CmsCell(j: Int, bucket: Long, cnt: Long)

  /** Streaming count-min sketch: the streaming face of
    * [[graft.pipeline.Sketches.cmsSketch]]. Each value explodes into its
    * `d` seeded bucket positions (the SAME `PolyHash(v, 201+j) mod w`
    * derivation as the batch sketch), keyed by (row, bucket); state is ONE
    * long counter per live cell — at most d·w cells in total across all
    * keys, the defining property of the sketch carried straight into the
    * state store. Counter addition is associative and order-insensitive,
    * so the post-stream cells equal the batch sketch over the union of all
    * micro-batches however rows were split — and on a BATCH frame this
    * returns exactly `cmsSketch(df)` (the `stream_cms` oracle pins the
    * cells hash-equal cross-engine). Point-frequency reads then take
    * `min_j cnt[j][h_j(v)]` against the emitted cells, exactly as
    * [[graft.pipeline.Sketches.cmsTopK]] does in batch.
    *
    * STATE RETENTION CONTRACT: unlike the per-group KMV/HLL faces, state
    * here is bounded GLOBALLY by d·w regardless of key cardinality, so
    * there is nothing to evict — no idle-timeout knob. Each micro-batch
    * re-emits only the cells it touched (append mode).
    */
  def cmsStream(df: DataFrame, valueCol: String, d: Int = 3,
      w: Int = 1024): Dataset[CmsCell] = {
    require(d >= 1 && d <= 16, s"cmsStream needs d in [1,16], got $d")
    require(w >= 2, s"cmsStream needs w >= 2, got $w")
    val spark = df.sparkSession
    import spark.implicits._
    import graft.functions.PolyHash
    val rows = df.select(posexplode(array((0 until d).map(j =>
      PolyHash(col(valueCol).cast("string"), 201L + j) % w): _*))
      .as(Seq("j", "bucket"))).as[CmsIn]
    rows.groupByKey(r => r.j.toLong * w + r.bucket)
      .flatMapGroupsWithState[CmsState, CmsCell](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (key, batch, state: GroupState[CmsState]) =>
          val cnt = state.getOption.map(_.cnt).getOrElse(0L) + batch.length
          state.update(CmsState(cnt))
          Iterator.single(CmsCell((key / w).toInt, key % w, cnt))
      }
  }

  def kmvStream(df: DataFrame, k: Int, groupCol: String, valueCol: String,
      idleTimeoutMs: Option[Long] = None): Dataset[KmvEstimate] = {
    require(k >= 2, s"KMV needs k >= 2, got $k")
    require(idleTimeoutMs.forall(_ > 0), s"idleTimeoutMs must be positive: $idleTimeoutMs")
    val spark = df.sparkSession
    import spark.implicits._
    import graft.functions.PolyHash
    import graft.pipeline.Sketches
    val rows = df.select(col(groupCol).cast("string").as("grp"),
      Sketches.kmvHash(valueCol).as("h")).as[KmvIn]
    val timeoutConf =
      if (idleTimeoutMs.isDefined) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    rows.groupByKey(_.grp)
      .flatMapGroupsWithState[KmvState, KmvEstimate](
        OutputMode.Append(), timeoutConf) {
        (grp, batch, state: GroupState[KmvState]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val prev = state.getOption.map(_.hs).getOrElse(Vector.empty)
            // merge-then-cut: distinct keeps the sketch a SET of hashes;
            // take(k) after sort is the associative k-min reduction
            val hs = (prev ++ batch.map(_.h)).distinct.sorted.take(k)
            state.update(KmvState(hs))
            idleTimeoutMs.foreach(state.setTimeoutDuration)
            val n = hs.size.toLong
            val est =
              if (n < k) n.toDouble
              else (k - 1).toDouble * PolyHash.Mod / math.max(hs.last, 1L)
            Iterator.single(KmvEstimate(grp, n, hs.last, est))
          }
      }
  }

  final case class QuantileIn(grp: String, h: Long, key: Long, x: Double)
  final case class QuantileState(rows: Vector[(Long, Long, Double)])
  final case class QuantileEstimate(grp: String, q: Double, n_sample: Long,
      est_q: Double)

  /** Streaming quantiles: the streaming face of
    * [[graft.pipeline.Sketches.quantileSketch]]. Per-group state is the
    * bottom-k rows by the SAME re-salted row-key hash as the batch face,
    * carried as (h, key, value) triples; the bottom-k merge is associative
    * and arrival-order-insensitive (k smallest of a union = k smallest of
    * merged bottom-k's), so after any micro-batch split the state equals
    * the batch sample over the union — and on a BATCH frame the output is
    * exactly `quantileSketch(df)` (the `stream_quantile` oracle aliases
    * `sketch_quantile`, pinning the two faces hash-equal). Each
    * micro-batch emits the group's refreshed type-7 estimates with the
    * batch face's exact interpolation arithmetic (pos = q·(n−1), frac =
    * pos − ⌊pos⌋, v_lo + frac·(v_hi − v_lo), HALF_UP at 6 decimals).
    *
    * The row key is required LONG-castable: hash ties (~n²/2·10⁻⁹ per
    * group) break on the ORIGINAL numeric key order, which a string cast
    * would silently reorder ("10" < "9") against the batch face.
    *
    * STATE RETENTION CONTRACT (same shape as [[kmvStream]]): fixed ≤ k
    * triples per group; `idleTimeoutMs` evicts idle groups, which restart
    * their sample from empty and answer from fewer rows until re-filled.
    */
  def quantileStream(df: DataFrame, k: Int, groupCol: String,
      keyCol: String, valueCol: String,
      qs: Seq[Double] = Seq(0.1, 0.25, 0.5, 0.75, 0.9, 0.99),
      idleTimeoutMs: Option[Long] = None): Dataset[QuantileEstimate] = {
    require(k >= 2, s"quantileStream needs k >= 2, got $k")
    require(qs.nonEmpty && qs.forall(q => q >= 0.0 && q <= 1.0),
      s"quantiles must lie in [0,1], got $qs")
    require(idleTimeoutMs.forall(_ > 0), s"idleTimeoutMs must be positive: $idleTimeoutMs")
    val spark = df.sparkSession
    import spark.implicits._
    import graft.pipeline.{Sampling, Sketches}
    import graft.functions.PolyHash
    val h = (Sketches.kmvHash(keyCol) * Sampling.saltMult("quantile")
      + Sampling.saltAdd("quantile")) % PolyHash.Mod
    val rows = df.where(col(valueCol).isNotNull)
      .select(col(groupCol).cast("string").as("grp"), h.as("h"),
        col(keyCol).cast("long").as("key"),
        col(valueCol).cast("double").as("x")).as[QuantileIn]
    val timeoutConf =
      if (idleTimeoutMs.isDefined) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    rows.groupByKey(_.grp)
      .flatMapGroupsWithState[QuantileState, QuantileEstimate](
        OutputMode.Append(), timeoutConf) {
        (grp, batch, state: GroupState[QuantileState]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val prev = state.getOption.map(_.rows).getOrElse(Vector.empty)
            // merge-then-cut on (h, key): distinct guards re-delivered rows,
            // the (h, key) sort is the batch face's exact sample order
            val kept = (prev ++ batch.map(r => (r.h, r.key, r.x)))
              .distinct.sortBy(t => (t._1, t._2)).take(k)
            state.update(QuantileState(kept))
            idleTimeoutMs.foreach(state.setTimeoutDuration)
            val vs = kept.map(_._3).sorted
            val n = vs.length
            qs.iterator.map { q =>
              val pos = q * (n - 1)
              val lo = math.floor(pos).toInt
              val frac = pos - lo
              val est = vs(lo) + frac * (vs(math.min(lo + 1, n - 1)) - vs(lo))
              QuantileEstimate(grp, q, n.toLong,
                BigDecimal(est).setScale(6, BigDecimal.RoundingMode.HALF_UP)
                  .toDouble)
            }
          }
      }
  }

  final case class CdcIn(id: Long, payload: Option[String], seq: Long, op: String)
  final case class CdcLatestState(seq: Long, op: String, payload: Option[String])
  final case class CdcLatestOut(doc_id: Long, seq: Long, op: String,
      text: Option[String])

  /** Streaming CDC fold: the streaming face of
    * [[graft.ops.Cdc.latestState]]'s changelog reduction — per id, the
    * running last-writer-wins record under the SAME (seq desc, op desc)
    * order as the batch window. State is one (seq, op, payload) triple per
    * live id; max-by is associative and arrival-order-insensitive, so any
    * micro-batch split converges to the batch answer (the `stream_cdc`
    * gate pins the batch frame against the per-id-top-1 oracle). Each
    * micro-batch re-emits the refreshed latest for ids it touched;
    * downstream, a full-outer join against the base snapshot (dropping
    * op = 'D') IS `Cdc.latestState` — spec-pinned.
    *
    * `idleTimeoutMs` bounds state for ids that stop changing (their
    * retraction simply stops being re-emitted; the latest emission stands).
    */
  def cdcStream(log: DataFrame, idCol: String = "doc_id",
      payloadCol: String = "text", seqCol: String = "seq", opCol: String = "op",
      idleTimeoutMs: Option[Long] = None): Dataset[CdcLatestOut] = {
    require(idleTimeoutMs.forall(_ > 0), s"idleTimeoutMs must be positive: $idleTimeoutMs")
    val spark = log.sparkSession
    import spark.implicits._
    val rows = log.select(col(idCol).cast("long").as("id"),
      col(payloadCol).cast("string").as("payload"),
      col(seqCol).cast("long").as("seq"), col(opCol).cast("string").as("op"))
      .as[CdcIn]
    val timeoutConf =
      if (idleTimeoutMs.isDefined) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    rows.groupByKey(_.id)
      .flatMapGroupsWithState[CdcLatestState, CdcLatestOut](
        OutputMode.Append(), timeoutConf) {
        (id, batch, state: GroupState[CdcLatestState]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val all = state.getOption.map(s => (s.seq, s.op, s.payload)).toSeq ++
              batch.map(r => (r.seq, r.op, r.payload))
            val (bs, bo, bp) = all.maxBy { case (sq, o, _) => (sq, o) }
            state.update(CdcLatestState(bs, bo, bp))
            idleTimeoutMs.foreach(state.setTimeoutDuration)
            Iterator.single(CdcLatestOut(id, bs, bo, bp))
          }
      }
  }

  final case class DwIn(user_id: Long, event_type: String,
      window_start: Long, ts: Long, event_id: Long)
  final case class DwState(firstTs: Long, firstId: Long, n: Long)
  final case class DwCell(user_id: Long, event_type: String,
      window_start: Long, first_ts: Long, first_event_id: Long,
      n_suppressed: Long)

  /** Streaming face of [[graft.ops.Sessionize.firstPerWindow]]: the
    * per-(user, type, tumbling window) cell keeps (first (ts, id), seen
    * count) — a struct-min plus a sum, both associative and
    * arrival-order-insensitive, so after any micro-batch split the state
    * equals the batch fold over the union and a late-arriving EARLIER
    * event correctly takes over as the cell's survivor (the
    * `stream_dedup_window` oracle aliases `events_dedup_window`, pinning
    * the two faces hash-equal on a batch frame). Each micro-batch emits
    * the touched cells' refreshed rows.
    *
    * STATE RETENTION CONTRACT (same shape as [[kmvStream]]): three longs
    * per live cell; windows age out naturally — `idleTimeoutMs` evicts
    * cells untouched for that long (an evicted cell that receives a
    * late repeat restarts its count, and its survivor may regress —
    * size the timeout to the pipeline's lateness bound).
    */
  def dedupWindowStream(df: DataFrame, windowNs: Long,
      idleTimeoutMs: Option[Long] = None): Dataset[DwCell] = {
    require(windowNs > 0, s"windowNs must be positive, got $windowNs")
    require(idleTimeoutMs.forall(_ > 0), s"idleTimeoutMs must be positive: $idleTimeoutMs")
    val spark = df.sparkSession
    import spark.implicits._
    val rows = df.select(col("user_id").cast("long").as("user_id"),
      col("event_type").cast("string").as("event_type"),
      (col("ts") - pmod(col("ts"), lit(windowNs))).cast("long").as("window_start"),
      col("ts").cast("long").as("ts"),
      col("event_id").cast("long").as("event_id")).as[DwIn]
    val timeoutConf =
      if (idleTimeoutMs.isDefined) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    rows.groupByKey(r => (r.user_id, r.event_type, r.window_start))
      .flatMapGroupsWithState[DwState, DwCell](
        OutputMode.Append(), timeoutConf) {
        case ((u, t, w), batch, state: GroupState[DwState]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val b = batch.toVector
            val prev = state.getOption
            val cand = prev.map(s => (s.firstTs, s.firstId)).toVector ++
              b.map(r => (r.ts, r.event_id))
            val (ft, fi) = cand.min
            val n = prev.map(_.n).getOrElse(0L) + b.size
            state.update(DwState(ft, fi, n))
            idleTimeoutMs.foreach(state.setTimeoutDuration)
            Iterator.single(DwCell(u, t, w, ft, fi, n - 1))
          }
      }
  }

  final case class SessIn(user_id: Long, ts: Long, event_id: Long)
  final case class SessState(idx: Long, start: Long, end: Long, n: Long)
  final case class SessRow(user_id: Long, session_idx: Long, start_ns: Long,
      end_ns: Long, duration_ns: Long, n_events: Long)

  /** Streaming face of [[graft.ops.Sessionize.sessions]]: per user, the
    * open session rides flatMapGroupsWithState as four longs (1-based
    * index, start, end, count); each micro-batch folds its events in the
    * batch operator's exact (ts, id) order — a gap > `gapNs` closes the
    * session (emitted final) and opens the next; the still-open session is
    * emitted as a refreshed snapshot every touched batch, so the consumer
    * contract is latest-per-(user, session_idx) wins (the same contract as
    * [[dedupWindowStream]]). The batch face — one micro-batch holding the
    * whole frame — therefore equals `Sessionize.sessions` row for row,
    * which is what the `stream_sessions` oracle pins by aliasing
    * `events_sessionize`.
    *
    * Lateness: an event inside or after the open session's span folds
    * deterministically (end/start extend by min/max); an event arriving
    * AFTER a later session already opened cannot re-merge the closed
    * sessions (append mode has no retraction) — size the upstream
    * watermark to the pipeline's lateness bound, the standard contract.
    * `idleTimeoutMs` evicts users idle longer than the timeout, closing
    * nothing (their last snapshot was already emitted).
    *
    * Scale shape: state is O(1) per live user; each micro-batch shuffles
    * once on the user key.
    */
  def sessionStream(df: DataFrame, gapNs: Long,
      idleTimeoutMs: Option[Long] = None): Dataset[SessRow] = {
    require(gapNs > 0, s"gapNs must be positive, got $gapNs")
    require(idleTimeoutMs.forall(_ > 0), s"idleTimeoutMs must be positive: $idleTimeoutMs")
    val spark = df.sparkSession
    import spark.implicits._
    val rows = df.select(col("user_id").cast("long").as("user_id"),
      col("ts").cast("long").as("ts"),
      col("event_id").cast("long").as("event_id")).as[SessIn]
    val timeoutConf =
      if (idleTimeoutMs.isDefined) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    rows.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessState, SessRow](
        OutputMode.Append(), timeoutConf) {
        case (u, batch, state: GroupState[SessState]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val evs = batch.toVector.sortBy(e => (e.ts, e.event_id))
            val closed = Vector.newBuilder[SessRow]
            var cur = state.getOption
            evs.foreach { e =>
              cur match {
                case None =>
                  cur = Some(SessState(1L, e.ts, e.ts, 1L))
                case Some(s) if e.ts - s.end > gapNs =>
                  closed += SessRow(u, s.idx, s.start, s.end,
                    s.end - s.start, s.n)
                  cur = Some(SessState(s.idx + 1, e.ts, e.ts, 1L))
                case Some(s) =>
                  cur = Some(SessState(s.idx, math.min(s.start, e.ts),
                    math.max(s.end, e.ts), s.n + 1))
              }
            }
            cur.foreach(state.update)
            idleTimeoutMs.foreach(state.setTimeoutDuration)
            val snap = cur.filter(_ => evs.nonEmpty).map(s =>
              SessRow(u, s.idx, s.start, s.end, s.end - s.start, s.n))
            (closed.result() ++ snap).iterator
          }
      }
  }
}
