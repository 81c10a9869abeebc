package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.core.Embeddings.EmbeddingProvider
import graft.functions.FloatVecDot

/** Structured Streaming operators (SURVEY §2.10/§7.6).
  *
  * The reference is batch-only; these are the scale extensions a
  * continuously-ingesting training-data pipeline needs. Every transform
  * here is expressed so the SAME code runs in batch (tested against the
  * DuckDB oracle via `e1_time_bucket`) and under a streaming source with
  * watermarked state — the `foreachBatch` ingest mirrors the reference's
  * `bulk_add_docs` core (`/root/reference/src/svs/kb.py:1486-1524`)
  * without operator changes.
  */
object StreamingIngest {

  /** Watermarked tumbling-window aggregation over an event stream.
    * Batch twin: SparkEntry `e1_time_bucket`.
    */
  def windowedEventCounts(events: DataFrame,
      watermark: String = "30 minutes",
      windowLen: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("win_start"), col("event_type"),
        col("n"), col("sum_value"))

  /** One user event for stateful processing. */
  case class UserEvent(user_id: Long, ts: java.sql.Timestamp,
      event_type: String, value: Double)

  /** An assembled session. */
  case class Session(user_id: Long, start: java.sql.Timestamp,
      end: java.sql.Timestamp, n_events: Long, sum_value: Double)

  private case class SessionState(start: Long, end: Long, n: Long, sum: Double)

  /** Gap-based sessionization with `flatMapGroupsWithState`: a session
    * closes when no event arrives for `gapMs` (processing-time timeout in
    * streaming; in tests the final sessions are flushed on timeout).
    */
  def sessionize(events: Dataset[UserEvent], gapMs: Long): Dataset[Session] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append, GroupStateTimeout.ProcessingTimeTimeout) {
        (userId, it, state: GroupState[SessionState]) =>
          var out = List.empty[Session]
          var cur = state.getOption
          if (state.hasTimedOut) {
            cur.foreach { s =>
              out ::= Session(userId, new java.sql.Timestamp(s.start),
                new java.sql.Timestamp(s.end), s.n, s.sum)
            }
            state.remove()
            out.iterator
          } else {
            it.toSeq.sortBy(_.ts.getTime).foreach { e =>
              val t = e.ts.getTime
              cur match {
                case Some(s) if t - s.end <= gapMs =>
                  cur = Some(SessionState(s.start, t, s.n + 1, s.sum + e.value))
                case Some(s) =>
                  out ::= Session(userId, new java.sql.Timestamp(s.start),
                    new java.sql.Timestamp(s.end), s.n, s.sum)
                  cur = Some(SessionState(t, t, 1, e.value))
                case None =>
                  cur = Some(SessionState(t, t, 1, e.value))
              }
            }
            cur.foreach(state.update)
            state.setTimeoutDuration(gapMs)
            out.reverseIterator
          }
      }
  }

  /** Internal per-user state of [[sessionizeEventTime]]: parallel
    * primitive arrays (tuple-list state trips codegen'd encoders; must
    * be public for the generated encoder to reach it).
    */
  case class EventBuffer(ts: Array[Long], vals: Array[Double])

  /** Event-time sessionization — the replayable variant of [[sessionize]]
    * (which uses processing-time timeouts and so depends on wall-clock
    * arrival). Events may arrive out of order up to the watermark: they
    * land in a per-user buffer, and a session is emitted only once the
    * watermark has passed `end + gap` — at that point no event that could
    * still extend it can arrive, so replaying the log yields identical
    * sessions (and identical results to the batch gap-split twin,
    * SparkEntry `e2_sessionize`). Per-user state is bounded by the events
    * inside the watermark horizon plus the open session's span.
    */
  def sessionizeEventTime(events: Dataset[UserEvent], gapMs: Long,
      watermark: String = "1 hour"): Dataset[Session] = {
    import events.sparkSession.implicits._
    events.withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[EventBuffer, Session](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId, it, state: GroupState[EventBuffer]) =>
          val wm = state.getCurrentWatermarkMs()
          // flatMapGroupsWithState does NOT auto-drop late rows: an event
          // at or behind the watermark could re-open a session already
          // emitted (its close condition end + gap <= wm has fired), so
          // admitting it would emit a duplicate/overlapping session in
          // append mode. The documented contract bounds disorder by the
          // watermark — enforce it here. ts == wm is dropped
          // conservatively (only end == wm - gap strictly requires it):
          // the strict > keeps admission consistent with the <= close
          // condition, at the cost of one boundary event.
          val incoming = it.map(e => (e.ts.getTime, e.value))
            .filter(_._1 > wm).toList
          val held = state.getOption
            .map(b => b.ts.zip(b.vals).toList).getOrElse(Nil)
          val buf = (held ++ incoming).sortBy(_._1)
          // gap-split the ordered buffer into sessions (newest first)
          val sessions = buf.foldLeft(List.empty[List[(Long, Double)]]) {
            // sessions and their events are built newest-first, so
            // cur's head is the latest event seen
            case ((cur @ (last :: _)) :: rest, e)
                if e._1 - last._1 <= gapMs => (e :: cur) :: rest
            case (acc, e) => List(e) :: acc
          }.map(_.reverse).reverse
          // a session is final once the watermark passed its end + gap:
          // events ≤ wm are all here, events > wm start a new session
          val (closed, open) = sessions.partition(s => s.last._1 + gapMs <= wm)
          val out = closed.map { s =>
            Session(userId, new java.sql.Timestamp(s.head._1),
              new java.sql.Timestamp(s.last._1), s.size.toLong,
              s.map(_._2).sum)
          }
          if (open.isEmpty) state.remove()
          else {
            val flat = open.flatten
            state.update(EventBuffer(
              flat.map(_._1).toArray, flat.map(_._2).toArray))
            state.setTimeoutTimestamp(
              math.max(open.last.last._1 + gapMs, wm + 1))
          }
          out.iterator
      }
  }

  /** Streaming exact dedup: drop rows whose fingerprint was already
    * seen within the watermark horizon — state is evictable because a
    * row older than the watermark can never collide with a retained
    * fingerprint. The streaming face of the batch
    * `exactDupStats`/fingerprint family: the ingest-time guard a
    * training-data pipeline runs before anything hits the store.
    */
  def streamingExactDedup(rows: DataFrame, fingerprintCol: String,
      tsCol: String, watermark: String = "1 hour"): DataFrame =
    rows.withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(fingerprintCol)

  /** One banded observation of an arriving document (streaming minhash
    * dedup).
    */
  case class BandObs(band: Int, key: String, doc_id: Long,
      ts: java.sql.Timestamp)

  /** Per-band-key state: parallel PRIMITIVE arrays, public — tuple-list
    * or private case-class state breaks Janino encoder codegen (same
    * constraint as EventBuffer).
    */
  case class BandSeen(docIds: Array[Long], tsMs: Array[Long])

  /** A near-dup candidate flag: `doc_id` arrived after `dup_of` and
    * collided with it on minhash `band`.
    */
  case class DupFlag(doc_id: Long, dup_of: Long, band: Int)

  /** Streaming APPROXIMATE dedup — the minhash-band twin of
    * [[streamingExactDedup]], catching near-duplicates (not just
    * byte-identical ones) before they hit the store. Each arriving doc
    * computes its LSH band keys locally
    * ([[graft.ops.Dedup.minhashBandKeysLocal]] — bit-identical to the
    * batch `d2` banding, a narrow map), then a `flatMapGroupsWithState`
    * keyed by (band, key) flags any doc that lands on a band an earlier
    * doc already occupies. Flags are CANDIDATE-level (the batch
    * pipeline's exact-Jaccard verify is a join, which a per-key state
    * op cannot do) — precision is the banding's, recall within the
    * watermark horizon is the banding's recall, and one doc pair may be
    * flagged on several bands (downstream consumers treat flags as
    * idempotent). State eviction mirrors
    * `dropDuplicatesWithinWatermark`: a band whose newest observation
    * falls behind the watermark is dropped, so near-dups separated by
    * more than the watermark are not flagged — the documented horizon.
    *
    * Input columns: doc_id LONG, text STRING, ts TIMESTAMP.
    */
  def streamingMinhashDedup(docs: DataFrame, k: Int = 3,
      numHashes: Int = 8, rowsPerBand: Int = 2,
      watermark: String = "1 hour"): Dataset[DupFlag] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val obs = docs.select(col("doc_id"), col("text"), col("ts"))
      .as[(Long, String, java.sql.Timestamp)]
      .flatMap { case (id, text, ts) =>
        graft.ops.Dedup.minhashBandKeysLocal(text, k, numHashes, rowsPerBand)
          .map { case (b, key) => BandObs(b, key, id, ts) }
      }
    obs.withWatermark("ts", watermark)
      .groupByKey(o => o.key + "#" + o.band)
      .flatMapGroupsWithState[BandSeen, DupFlag](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (_, it, state: GroupState[BandSeen]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val wm = state.getCurrentWatermarkMs()
            // beyond-watermark arrivals are dropped (same contract as
            // the event-time sessionize late-event guard)
            val arrivals = it.filter(_.ts.getTime > wm).toList
              .sortBy(o => (o.ts.getTime, o.doc_id))
            val held = state.getOption.getOrElse(
              BandSeen(Array.empty, Array.empty))
            val seen = scala.collection.mutable.LinkedHashMap[Long, Long](
              held.docIds.zip(held.tsMs).toSeq: _*)
            val flags = List.newBuilder[DupFlag]
            arrivals.foreach { o =>
              if (!seen.contains(o.doc_id)) {
                if (seen.nonEmpty)
                  flags += DupFlag(o.doc_id, seen.keys.min, o.band)
                seen(o.doc_id) = o.ts.getTime
              }
            }
            // evict entries the watermark has passed; key the state's
            // own eviction to its newest observation
            val kept = seen.toSeq.filter(_._2 > wm)
            if (kept.isEmpty) state.remove()
            else {
              state.update(BandSeen(kept.map(_._1).toArray,
                kept.map(_._2).toArray))
              state.setTimeoutTimestamp(math.max(kept.map(_._2).max, wm + 1L))
            }
            flags.result().iterator
          }
      }
  }

  /** One keep-best observation: a scored variant of a canonical key. */
  case class BestObs(fp: String, doc_id: Long, score: Double,
      ts: java.sql.Timestamp)

  /** Per-key keep-best state: the reigning best variant. Public flat
    * case class for Janino encoder codegen (same constraint as
    * EventBuffer/BandSeen).
    */
  case class BestHeld(docId: Long, score: Double, newestMs: Long)

  /** Emitted whenever a key's best variant CHANGES: `replaced` is the
    * previous best doc id, or -1 when the key is first seen.
    */
  case class BestChange(fp: String, doc_id: Long, score: Double,
      replaced: Long)

  /** Streaming keep-best dedup — the stateful twin of the batch
    * [[graft.ops.Dedup.keepBestPerKey]] (CCNet-style best-variant
    * retention): arriving rows are grouped by canonical key `fp`; a row
    * strictly better than the reigning best (higher score, ties to the
    * SMALLER doc id — the batch tie rule) emits a [[BestChange]] and
    * takes over the state. Consumers keep the last change per key;
    * that running answer equals the batch operator over everything
    * inside the watermark horizon (parity is spec-pinned).
    *
    * Eviction mirrors the other stateful dedups: a key whose newest
    * observation falls behind the watermark is dropped, so best-ness is
    * only guaranteed within the horizon — the documented contract.
    * Beyond-watermark arrivals are dropped, never compared.
    */
  def streamingKeepBest(rows: DataFrame,
      watermark: String = "1 hour"): Dataset[BestChange] = {
    val spark = rows.sparkSession
    import spark.implicits._
    rows.select(col("fp"), col("doc_id"), col("score"), col("ts"))
      .as[BestObs]
      .withWatermark("ts", watermark)
      .groupByKey(_.fp)
      .flatMapGroupsWithState[BestHeld, BestChange](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (fp, it, state: GroupState[BestHeld]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val wm = state.getCurrentWatermarkMs()
            val arrivals = it.filter(_.ts.getTime > wm).toList
              .sortBy(o => (o.ts.getTime, o.doc_id))
            val changes = List.newBuilder[BestChange]
            var held = state.getOption.orNull
            arrivals.foreach { o =>
              val better = held == null ||
                o.score > held.score ||
                (o.score == held.score && o.doc_id < held.docId)
              val newest = if (held == null) o.ts.getTime
                else math.max(held.newestMs, o.ts.getTime)
              if (better) {
                changes += BestChange(fp, o.doc_id, o.score,
                  if (held == null) -1L else held.docId)
                held = BestHeld(o.doc_id, o.score, newest)
              } else held = BestHeld(held.docId, held.score, newest)
            }
            if (held != null) {
              if (held.newestMs <= wm) state.remove()
              else {
                state.update(held)
                state.setTimeoutTimestamp(math.max(held.newestMs, wm + 1L))
              }
            }
            changes.result().iterator
          }
      }
  }

  /** One observation for the streaming EWMA. */
  case class EwmaObs(user_id: Long, event_id: Long,
      ts: java.sql.Timestamp, value: Double)

  /** Per-key EWMA state: events buffered until the watermark passes
    * them (flat arrays for Janino encoder codegen — same constraint as
    * EventBuffer/BandSeen), plus the running recurrence (acc, n) and
    * the newest observation for idle-key eviction.
    */
  case class EwmaHold(bufTs: Array[Long], bufId: Array[Long],
      bufVal: Array[Double], acc: Double, n: Long, newestMs: Long)

  /** One finalized EWMA point — the batch op's output row
    * ([[graft.ops.TimeJoins.ewma]]: (key, event_id, rn, ewma)). */
  case class EwmaPoint(user_id: Long, event_id: Long, rn: Long,
      ewma: Double)

  /** Streaming per-key EWMA — the stateful twin of the batch
    * [[graft.ops.TimeJoins.ewma]] (ewma₁ = x₁, ewmaₜ = α·xₜ +
    * (1−α)·ewmaₜ₋₁ over events ordered by (ts, event_id) per key),
    * the formulation TimeJoins' scaladoc promises for unbounded keys.
    *
    * A recurrence is order-sensitive, so arrivals BUFFER in state until
    * the watermark passes them and only then fold into the running
    * average, in (ts, event_id) order — this is what makes the emitted
    * points bit-equal to the batch operator over every event inside the
    * watermark horizon (parity is spec-pinned), instead of
    * order-of-arrival approximations. State per key = the buffered
    * horizon (bounded by the watermark) + one (acc, n) pair; the fold
    * prefix is emitted and dropped from state, so a key's steady-state
    * footprint is O(events inside the horizon), not O(history).
    *
    * Eviction mirrors the other stateful ops: a key whose newest
    * observation falls behind the watermark is dropped (its recurrence
    * restarts if the key returns — the documented horizon contract);
    * beyond-watermark arrivals are dropped, never folded out of order.
    */
  def streamingEwma(events: DataFrame, alpha: Double,
      watermark: String = "1 hour"): Dataset[EwmaPoint] = {
    require(alpha > 0.0 && alpha <= 1.0, s"alpha $alpha")
    val spark = events.sparkSession
    import spark.implicits._
    events.select(col("user_id"), col("event_id"), col("ts"), col("value"))
      .as[EwmaObs]
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[EwmaHold, EwmaPoint](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid, it, state: GroupState[EwmaHold]) =>
          val wm = state.getCurrentWatermarkMs()
          val prev = state.getOption.getOrElse(EwmaHold(
            Array.empty, Array.empty, Array.empty, 0.0, 0L, Long.MinValue))
          val arrivals =
            if (state.hasTimedOut) Nil
            else it.filter(_.ts.getTime > wm).toList
          val all = (prev.bufTs.indices.map(i =>
              (prev.bufTs(i), prev.bufId(i), prev.bufVal(i))) ++
            arrivals.map(o => (o.ts.getTime, o.event_id, o.value)))
            .sortBy(e => (e._1, e._2)).toArray
          // fold the prefix the watermark has passed, in event order
          var acc = prev.acc
          var n = prev.n
          val out = List.newBuilder[EwmaPoint]
          var i = 0
          while (i < all.length && all(i)._1 <= wm) {
            val x = all(i)._3
            acc = if (n == 0L) x else alpha * x + (1.0 - alpha) * acc
            n += 1
            out += EwmaPoint(uid, all(i)._2, n, acc)
            i += 1
          }
          val rest = all.drop(i)
          val newest = math.max(prev.newestMs,
            if (all.isEmpty) Long.MinValue else all.last._1)
          if (rest.isEmpty && newest <= wm) {
            if (state.exists) state.remove()
          } else {
            state.update(EwmaHold(rest.map(_._1), rest.map(_._2),
              rest.map(_._3), acc, n, newest))
            // wake when the watermark reaches the oldest buffered event
            // (to finalize it), else when it passes the key's newest
            // observation (to evict the idle key)
            val t = if (rest.nonEmpty) math.max(rest.head._1, wm + 1L)
              else math.max(newest, wm + 1L)
            state.setTimeoutTimestamp(t)
          }
          out.result().iterator
      }
  }

  /** Stream-stream as-of ENRICHMENT (the streaming twin of the batch
    * as-of join `o1`): left-outer join a fact stream (purchases)
    * against a context stream (views) on the same key, keeping context
    * rows whose event time falls in `[leftTs - lag, leftTs]`. Both
    * sides are watermarked, which is what lets Spark bound and evict
    * the join state; a fact with no in-window context emits once with
    * nulls when the watermark passes it, and context arriving beyond
    * its own watermark is dropped, never matched.
    *
    * Semantics note: this returns EVERY in-window context row per fact
    * (range semantics). The batch as-of join's "latest preceding only"
    * reduction needs a re-rank over matched state that a streaming
    * left-outer join cannot express ([[graft.ops.TimeJoins.asofJoin]]
    * stays the batch-side op); reduce downstream (max over
    * `rightPrefix+rightTs` per fact id) when latest-only is required.
    * The same code runs in batch (withWatermark no-ops), which is what
    * the parity spec pins.
    */
  def streamEnrichAsOf(left: DataFrame, right: DataFrame,
      key: String, leftTs: String, rightTs: String,
      lag: String = "10 minutes",
      leftWatermark: String = "30 seconds",
      rightWatermark: String = "30 seconds",
      rightPrefix: String = "r_"): DataFrame = {
    val l = left.withWatermark(leftTs, leftWatermark)
    val rPref = right.columns.foldLeft(right) { (df, c) =>
      df.withColumnRenamed(c, s"$rightPrefix$c")
    }
    val r = rPref.withWatermark(s"$rightPrefix$rightTs", rightWatermark)
    l.join(r,
      col(key) === col(s"$rightPrefix$key") &&
        col(s"$rightPrefix$rightTs") >= col(leftTs) - expr(s"interval $lag") &&
        col(s"$rightPrefix$rightTs") <= col(leftTs),
      "left_outer")
      .drop(s"$rightPrefix$key")
  }

  /** Streaming embed-and-pack stage: the `bulk_add_docs` backfill
    * (provider called in partition batches of 200) as a streaming-safe
    * transform. Output schema: (doc_id, text, vec BINARY packed f32).
    */
  def embedStage(docs: Dataset[(Long, String)],
      provider: EmbeddingProvider): DataFrame = {
    import docs.sparkSession.implicits._
    docs.mapPartitions { it =>
      it.grouped(EmbeddingProvider.BatchSize).flatMap { chunk =>
        val vecs = provider.embed(chunk.map(_._2))
        chunk.zip(vecs).map { case ((id, text), v) =>
          (id, text, FloatVecDot.pack(v))
        }
      }
    }.toDF("doc_id", "text", "vec")
  }

  /** Apply one ingest micro-batch exactly once: the store carries the
    * last applied batch id under `markerKey`, written in the SAME
    * atomic commit as the docs, so an at-least-once foreachBatch replay
    * (crash between the store commit and the streaming checkpoint)
    * finds the marker and skips. Returns whether the batch was applied.
    */
  def applyIngestBatch(kb: graft.core.KbStore, rawBatch: DataFrame,
      provider: EmbeddingProvider, markerKey: String, batchId: Long,
      maintainIndex: Boolean,
      dedupScreen: Option[Double] = None,
      semanticScreen: Option[Double] = None,
      semanticNProbe: Int = 8,
      curate: DataFrame => DataFrame = identity): Boolean = {
    val last = kb.getKeyOr(markerKey, -1L).asInstanceOf[Long]
    if (batchId <= last || rawBatch.isEmpty) false
    else {
      // CURATION stage (round 13): an arbitrary deterministic batch
      // transform — quality rules, lang-id filters, PII redaction —
      // applied BEFORE every screen and before the provider, the
      // standard pipeline order (curate → dedup → embed): a doc the
      // rules drop never costs a screen pass, a provider call, or a
      // corpus slot, and a doc the rules REWRITE (redaction) is
      // screened and embedded in its stored form. Exactly-once holds
      // for the same reason as the screens: it runs before the
      // marker-carrying commit and must be deterministic in the
      // batch's rows (a replay re-curates identically).
      val batch = curate(rawBatch)
      // dedup-on-ingest (round 12): screen the arriving batch against
      // the WHOLE archive through the persisted dedup_bands family
      // before paying the embed + commit — a near-dup doc dropped here
      // never costs a provider call, never bloats the corpus, and
      // never needs a retroactive delete. O(batch + matched bands) per
      // batch; the screen itself stays exactly-once because it runs
      // before the marker-carrying commit (a replay re-screens
      // identically — the archive only gained the SURVIVORS).
      // Batch-internal dups keep the first arrival (lowest provisional
      // id). Requires the dedup family to EXIST (buildDedupIndex —
      // a missing index fails loudly rather than silently letting dups
      // through); a merely-stale index is refreshed in place below.
      // the screen runs BEFORE this batch's commit; KbStore.screenBatch
      // also refresh-if-stales the family first, so a crash between a
      // prior commit and ITS refresh (a replay skips the re-commit,
      // hence never refreshes) completes the interrupted maintenance
      // instead of wedging the stream. The batch's full schema (meta,
      // parent_id) rides through the screen.
      val (toAdd, unpersistKept): (DataFrame, () => Unit) =
        dedupScreen match {
          case Some(threshold) =>
            val (kept, _, cleanup) = kb.screenBatch(batch, threshold)
            (kept, cleanup)
          case None => (batch, () => ())
        }
      // keep whichever index families exist live. Refresh COMPUTE is
      // O(this batch) against the stored centroids / encoder, and each
      // refresh commits a delta segment; for high-frequency
      // micro-batches over a huge store, prefer maintainIndex = false
      // + periodic refresh. The PQ tier's refresh also keeps a
      // materialized bucketed-codes mirror current, and the dedup
      // family lets every next batch screen against the whole history.
      // Runs on EVERY applied batch, including the all-dups early exit
      // below: families left stale by a prior crash (commit landed,
      // refresh didn't) must not stay stale just because the next
      // batches happen to be all duplicates — maintainIndex promises
      // per-batch liveness, not per-non-empty-batch liveness.
      def refreshStaleFamilies(): Unit =
        if (maintainIndex) kb.refreshStaleIndexes()
      // only a stage that ran can have emptied the batch `rawBatch.isEmpty`
      // found non-empty (`identity` curation returns the batch itself),
      // so the emptiness checks below run, each one job, only after one
      val filtered = dedupScreen.isDefined || (batch ne rawBatch)
      try {
        if (filtered && toAdd.isEmpty) {
          // every doc was a dup: still advance the marker so a replay
          // doesn't re-screen the batch forever
          kb.setKey(markerKey, batchId)
          refreshStaleFamilies()
          return true
        }
        // SEMANTIC screen (r12 verdict item 2): the lexical survivors
        // are embedded once, screened against the archive in embedding
        // space through the persisted ANN family (paraphrase-level
        // near-dups MinHash can't see — the standard second curation
        // stage, Abbas et al. 2023), and the survivors commit WITH
        // their screen-time vectors, so the provider is called exactly
        // once per doc regardless of which screens are on. Exactly-once
        // holds for the same reason as the lexical screen: both run
        // before the marker-carrying commit, and the archive a replay
        // re-screens against only ever gained the survivors.
        val (toCommit, unpersistSem): (DataFrame, () => Unit) =
          semanticScreen match {
            case Some(ct) =>
              val (kept, _, cleanup) =
                kb.screenBatchSemantic(toAdd, ct, provider, semanticNProbe)
              (kept, cleanup)
            case None => (toAdd, () => ())
          }
        try {
          if (semanticScreen.isDefined && toCommit.isEmpty) {
            kb.setKey(markerKey, batchId)
            refreshStaleFamilies()
            return true
          }
          kb.bulkAddDocsDistributed(toCommit, provider,
            ingestMarker = Some(markerKey -> batchId))
        } finally unpersistSem()
      } finally unpersistKept()
      refreshStaleFamilies()
      true
    }
  }

  /** Stream documents straight into a [[graft.core.KbStore]], one
    * atomic commit per micro-batch (idempotent under replay via
    * [[applyIngestBatch]]'s in-commit marker), optionally keeping the
    * persistent ANN index live: adds leave the index merely stale, so
    * the incremental `refreshAnnIndex` (assign only the batch's vectors
    * to the stored centroids) runs after each commit — a continuously
    * ingesting corpus whose index never needs a full rebuild. Source
    * must provide a `text` column.
    *
    * `dedupScreen = Some(threshold)`: dedup-on-ingest — each batch is
    * screened against the ENTIRE archive through the persisted
    * `dedup_bands` family before embedding (O(batch + matched bands)
    * per batch, never an archive re-mine), and docs whose MinHash-
    * verified Jaccard vs an archived doc (or an earlier doc of the
    * same batch) meets the threshold are dropped BEFORE the provider
    * is called. Requires `buildDedupIndex()` on the store (a missing
    * family fails loudly); the screen itself keeps the family CURRENT
    * — it refresh-if-stales before banding, so each batch sees every
    * prior batch's survivors with or without `maintainIndex`.
    * `maintainIndex` additionally keeps the OTHER families
    * (ANN/int8/text/PQ) live per batch; the screen-only mode is the
    * high-frequency deployment the scaladoc above recommends.
    *
    * `semanticScreen = Some(cosThreshold)`: the EMBEDDING-SPACE screen
    * — each batch (after the lexical screen, when both are on) is
    * embedded once and screened against the archive through the
    * persisted ANN (IVF) family (`nProbe = semanticNProbe` lists
    * probed; batch-internal keep-first included), and the survivors
    * commit with their screen-time vectors. Requires
    * `buildAnnIndex()` on the store; the screen refresh-if-stales the
    * family itself, so semantic-screen-only mode needs no
    * `maintainIndex`. MinHash catches copies; this catches
    * paraphrases — run both for full-coverage dedup-on-ingest.
    *
    * `curate`: a deterministic per-batch transform (quality rules,
    * lang-id filters, PII redaction — any of the stateless curation
    * ops compose here) applied BEFORE the screens and the provider,
    * the standard pipeline order (curate → dedup → embed). Dropped
    * docs never cost a screen pass or a provider call; rewritten docs
    * (redaction) are screened and embedded in their stored form.
    */
  def startStoreIngest(source: DataFrame, kb: graft.core.KbStore,
      provider: EmbeddingProvider, checkpoint: String,
      maintainIndex: Boolean = false,
      dedupScreen: Option[Double] = None,
      semanticScreen: Option[Double] = None,
      semanticNProbe: Int = 8,
      curate: DataFrame => DataFrame = identity): org.apache.spark.sql.streaming.StreamingQuery = {
    val markerKey = s"__graft_ingest::$checkpoint"
    source.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyIngestBatch(kb, batch, provider, markerKey, batchId,
          maintainIndex, dedupScreen, semanticScreen, semanticNProbe,
          curate)
        ()
      }
      .start()
  }

  /** One term's current Misra-Gries bounds: the true stream count c
    * satisfies count_lo <= c <= count_hi. */
  case class VocabEstimate(shard: Int, term: String, count_lo: Long,
      count_hi: Long)

  /** Internal Misra-Gries shard summary (public for the generated
    * state encoder, like [[EventBuffer]]). */
  case class MgSummary(terms: Seq[String], counts: Seq[Long],
      decrements: Long)

  /** Streaming heavy-hitter vocabulary — the streaming twin of the
    * batch `x10_vocab_topk` corpus vocabulary, as a SHARDED Misra-Gries
    * summary (Misra & Gries 1982): terms hash to `nShards` state keys,
    * each shard maintains at most `capacity` counters, and when a new
    * term meets a full summary every counter decrements instead (the
    * classic ≤ stream/capacity undercount). Because a term lives in
    * exactly ONE shard, the global heavy-hitter set is the plain union
    * of shard summaries — no cross-shard merge step — and state is
    * bounded at nShards·capacity counters no matter how adversarial
    * the vocabulary is. When `capacity` ≥ the shard's distinct terms
    * the bounds collapse (count_lo = count_hi = exact count), which is
    * what the batch-parity spec pins.
    *
    * Emits each shard's full current summary every trigger (Update
    * mode): (shard, term, count_lo, count_hi). State never expires —
    * vocabulary is cumulative by design; bound memory with capacity,
    * not a watermark.
    */
  def streamingVocab(docs: DataFrame, capacity: Int, nShards: Int = 32,
      textCol: String = "text"): Dataset[VocabEstimate] = {
    require(capacity >= 1 && nShards >= 1)
    val spark = docs.sparkSession
    import spark.implicits._
    val terms = docs
      .select(explode(graft.ops.TextAnalysis.tokens(col(textCol)))
        .as("term"))
      .where(col("term") =!= "")
      .select(pmod(hash(col("term")), lit(nShards)).as("shard"),
        col("term"))
      .as[(Int, String)]
    terms.groupByKey(_._1)
      .flatMapGroupsWithState[MgSummary, VocabEstimate](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (shard, it, state: GroupState[MgSummary]) =>
          val held = state.getOption
            .getOrElse(MgSummary(Nil, Nil, 0L))
          val m = scala.collection.mutable.LinkedHashMap[String, Long](
            held.terms.zip(held.counts).toSeq: _*)
          var dec = held.decrements
          it.foreach { case (_, t) =>
            m.get(t) match {
              case Some(c) => m(t) = c + 1
              case None if m.size < capacity => m(t) = 1L
              case None =>
                // decrement-all: every counter pays one, zeros evict
                dec += 1
                m.mapValuesInPlace((_, c) => c - 1)
                m.filterInPlace((_, c) => c > 0)
            }
          }
          state.update(MgSummary(m.keys.toSeq, m.values.toSeq, dec))
          m.iterator.map { case (t, c) =>
            VocabEstimate(shard, t, c, c + dec)
          }
      }
  }

  /** Wire a streaming source of (doc_id, text) through the embed stage
    * into an append-mode parquet sink — the Structured Streaming face of
    * the reference's bulk ingest. Returns the started query.
    */
  def startIngest(spark: SparkSession, source: DataFrame,
      provider: EmbeddingProvider, outPath: String,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery = {
    import spark.implicits._
    val staged = embedStage(source.as[(Long, String)], provider)
    staged.writeStream
      .outputMode(OutputMode.Append)
      .format("parquet")
      .option("path", outPath)
      .option("checkpointLocation", checkpoint)
      .start()
  }
}
