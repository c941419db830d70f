package graft.streaming

import java.sql.Timestamp

import graft.operators.Temporal.RangeWindowUs
import graft.streaming.StreamingOps.{
  EnrichEvent, FetchReq, RangeEvent, SpanEvent, TaggedEvent, UserEvent}
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** The streaming operators surfaced as DRIVER-checked queries: each entry
  * replays the `events`/`documents` tables through a MemoryStream in
  * chronological micro-batches, runs the real readStream operator
  * (watermarks, state, timeouts — not a batch re-expression), flushes
  * final state with watermark-advancing sentinel batches, and returns the
  * memory-sink table. The oracle is the BATCH-TWIN SQL over the same
  * parquet — so batch/stream equivalence is proven in the driver's hard
  * hash-compare signal, not just in ScalaTest.
  *
  * Determinism: rows are fed sorted by (event time, id) and split into
  * chronological halves, so the watermark only ever advances and no
  * event is late-dropped; sentinel rows (negative ids / marker kinds) are
  * filtered from the result. The driver-side collect here is the TEST
  * HARNESS feeding a test source (MemoryStream is exactly that) — the
  * operators themselves are the production readStream forms fed by
  * Kafka/files at scale, state bounded by watermarks as described in
  * [[StreamingOps]].
  */
object StreamingQueries {

  private val qId = new java.util.concurrent.atomic.AtomicLong()

  /** Replay-feed bound. The driver-side collect below is the TEST HARNESS
    * feeding MemoryStream (which is by nature a driver-side source); the
    * production paths ([[StreamingOps]] readStream forms) never collect.
    * At a large enough sf the HARNESS would OOM the driver long before
    * the operators misbehaved — so the feed is capped loudly: the
    * `limit(cap+1)` bounds what ever reaches the driver, and exceeding
    * the cap fails with instructions instead of an OOM. */
  private[graft] val ReplayMaxRows = 1000000

  private[graft] def collectBounded[T](ds: Dataset[T]): Array[T] = {
    val rows = ds.limit(ReplayMaxRows + 1).collect()
    require(rows.length <= ReplayMaxRows,
      s"streaming replay harness would collect > $ReplayMaxRows input rows; " +
        "the MemoryStream oracle harness is bounded by design — drive the " +
        "production readStream path (StreamingOps) for inputs this size")
    rows
  }

  /** Chronological replay batches. Two halves: every stateful operator
    * still proves cross-batch state (the second half's matches reach back
    * into state built by the first), while each extra micro-batch costs a
    * full state-store commit round — at the replay's volume the
    * scheduling fixed cost dominates, so fewer, larger batches buy wall
    * time with no loss of semantics (the watermark still only advances). */
  private def halves[T](rows: Seq[T]): Seq[Seq[T]] = {
    val step = math.max(1, (rows.size + 1) / 2)
    rows.grouped(step).toSeq
  }

  /** Isolated session for one streaming replay: shares the SparkContext
    * but carries its own SQLConf, so the state-store partition count can
    * be sized to the replay's tiny per-batch volume (4 instead of the
    * session's `SPARK_GRAFT_CPUS` — fewer state-store tasks per
    * micro-batch) without racing the concurrently-running batch queries
    * in Verify's pool. The interval joins gain twice: the symmetric hash
    * join keeps TWO keyed state stores per shuffle partition and
    * checkpoints delta files for each per micro-batch. State
    * hash-distributes the same way at any count and aggregation results
    * are partitioning-independent, so outputs are unchanged. */
  private def replaySession(s: SparkSession): SparkSession = {
    val ss = s.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", "4")
    // NOT worth it (measured): pointing the harness checkpoint location
    // at tmpfs ran ~6% SLOWER than the default temp dirs — the /tmp
    // writes are page-cache-absorbed, while an explicit (non-temp)
    // checkpointLocation loses the delete-on-stop temp path and its
    // bookkeeping costs more than the disk it avoids.
    ss
  }

  /** Starts `op` into a uniquely named memory sink (Verify runs several
    * replays at once in one session), runs each step's feed as its own
    * micro-batch in order, stops the query and returns the sink table. */
  private def run(ss: SparkSession, op: DataFrame, mode: String = "append")(
      steps: Seq[() => Unit]): DataFrame = {
    val name = s"replay_${qId.incrementAndGet()}"
    val q = op.writeStream.format("memory").queryName(name).outputMode(mode).start()
    try steps.foreach { feed => feed(); q.processAllAvailable() }
    finally q.stop()
    ss.table(name)
  }

  /** [[run]] over one MemoryStream: each batch is one micro-batch, in
    * order; sentinels are trailing batches. */
  private def replay[T: Encoder](ss: SparkSession, batches: Seq[Seq[T]], mode: String = "append")(
      op: Dataset[T] => Dataset[_]): DataFrame = {
    val in = MemoryStream[T](implicitly[Encoder[T]], ss.sqlContext)
    run(ss, op(in.toDS()).toDF(), mode)(batches.map[() => Unit](b => () => in.addData(b)))
  }

  /** The events table's `(user_id, ts, event_id)` where `cond` holds, in
    * replay order: sorted by (event time, event id). */
  private def events(ss: SparkSession, dir: String,
                     cond: Column = lit(true)): Seq[(Long, Timestamp, Long)] = {
    import ss.implicits._
    collectBounded(ss.read.parquet(s"$dir/events.parquet").filter(cond)
      .select(col("user_id").cast("long"), col("ts").cast("timestamp"),
        col("event_id").cast("long"))
      .as[(Long, Timestamp, Long)])
      .sortBy(r => (r._2.getTime, r._3)).toSeq
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Tumbling 5-minute window counts per kind, computed by the streaming
    // operator (append mode: a window row exists only because the
    // watermark passed its end). Oracle: the same windows in batch SQL.
    "stream_events_window" -> ((s, dir) => {
      val ss = replaySession(s)
      import ss.implicits._
      val rows = collectBounded(ss.read.parquet(s"$dir/events.parquet")
        .select(col("ts").cast("timestamp").as("event_time"),
          col("event_id").cast("string").as("doc_id"), col("event_type").as("kind"))
        .as[SpanEvent])
        .sortBy(e => (e.event_time.getTime, e.doc_id)).toSeq
      val maxTs = rows.map(_.event_time.getTime).max
      // sentinel: watermark passes every real window's end
      val sentinel = SpanEvent(new Timestamp(maxTs + 3600L * 1000), "::s::", "::sentinel::")
      replay(ss, halves(rows) :+ Seq(sentinel))(StreamingOps.windowedKindCounts(_))
        .filter(col("kind") =!= "::sentinel::")
        .select(unix_micros(col("window_start")).as("window_start_us"),
          unix_micros(col("window_end")).as("window_end_us"),
          col("kind"), col("n_spans"))
    }),

    // Per-window HLL distinct-user estimation through the REAL streaming
    // register agg (state ≤ M longs per open window, append mode) — the
    // observability sketch a production stream maintains where exact
    // distinct state would be unbounded. Registers come off the memory
    // sink; the estimate math (alpha·m²/Σ2^-rho, round 4) runs batch-side
    // via the SAME Sketches.estimateOf the batch HLL queries use, and the
    // oracle recomputes windows + registers + estimate from the parquet —
    // stream-merged registers must equal the batch registers bit-for-bit.
    "stream_hll_window" -> ((s, dir) => {
      val ss = replaySession(s)
      import ss.implicits._
      val rows  = events(ss, dir).map(r => UserEvent(r._1, r._2))
      val maxTs = rows.map(_.event_time.getTime).max
      // sentinel: watermark passes every real window's end (its own
      // far-future window is filtered below by start time)
      val sentinel = UserEvent(-1L, new Timestamp(maxTs + 24 * 3600L * 1000))
      val regs = replay(ss, halves(rows) :+ Seq(sentinel))(StreamingOps.windowedHllRegisters(_))
        .select(unix_micros(col("window_start")).as("window_start_us"),
          unix_micros(col("window_end")).as("window_end_us"),
          col("reg"), col("rho"))
        .filter(col("window_start_us") <= maxTs * 1000L)
      graft.operators.Sketches.estimateOf(regs,
        Seq("window_start_us", "window_end_us"))
    }),

    // Gap-sessionization through flatMapGroupsWithState (real state +
    // event-time timeouts), aggregated to per-user session counts — the
    // EXACT output shape of the batch twin, so the oracle is
    // q_sessionize's SQL verbatim.
    "stream_sessionize" -> ((s, dir) => {
      val ss = replaySession(s)
      import ss.implicits._
      val rows  = events(ss, dir).map(r => UserEvent(r._1, r._2))
      val maxTs = rows.map(_.event_time.getTime).max
      // two sentinel batches: the first advances the watermark past every
      // open session's (last + gap) timeout, the second fires the timeouts
      val sentinels = Seq(0L, 60000L).map(d =>
        Seq(UserEvent(-1L, new Timestamp(maxTs + 24 * 3600L * 1000 + d))))
      replay(ss, halves(rows) ++ sentinels)(StreamingOps.sessionize(_))
        .filter(col("user_id") =!= -1L)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_sessions"), sum(col("n_events")).as("n_events"))
    }),

    // Streaming as-of enrichment join (clicks ⋈asof views per user)
    // through the real watermark-gated state operator; oracle is the
    // batch twin q_asof_join's SQL VERBATIM — including DuckDB's native
    // ASOF LEFT JOIN — so the replay proves stream == batch == canonical
    // operator. The two half batches split clicks from their matching
    // views across the micro-batch boundary; the pending-click buffer must
    // honor matches that arrive in a later batch than the click.
    "stream_asof_join" -> ((s, dir) => {
      val ss = replaySession(s)
      import ss.implicits._
      val rows = collectBounded(ss.read.parquet(s"$dir/events.parquet")
        .filter(col("event_type").isin("click", "view"))
        .select(col("user_id").cast("long"), col("ts").cast("timestamp"),
          when(col("event_type") === "click", 1).otherwise(0).as("side"),
          col("event_id").cast("long"))
        .as[(Long, Timestamp, Int, Long)])
        .sortBy(r => (r._2.getTime, r._4)).toSeq
        .map(r => TaggedEvent(r._1, r._2, r._3, r._4))
      val maxTs = rows.map(_.event_time.getTime).max
      // two sentinels: advance the watermark past every pending click,
      // then fire the event-time timeouts that flush them
      val sentinels = Seq(0L, 60000L).map(d =>
        Seq(TaggedEvent(-1L, new Timestamp(maxTs + 24 * 3600L * 1000 + d), 0, -1L)))
      replay(ss, halves(rows) ++ sentinels)(StreamingOps.asofJoin(_))
        .filter(col("user_id") =!= -1L)
        .select(col("click_id"), col("user_id"), col("view_id"), col("lag_us"))
    }),

    // NATIVE stream-stream interval join (symmetric hash join with
    // watermark-pruned buffers — see StreamingOps.intervalJoin). The two
    // sides are SEPARATE MemoryStreams fed in separate micro-batches
    // (all errors a full micro-batch before all clicks), so every match
    // is found across the batch boundary from buffered state, never
    // within one batch. Oracle: q_range_join's batch SQL verbatim.
    "stream_interval_join" -> ((s, dir) => {
      val ss = replaySession(s)
      import ss.implicits._
      val cs  = events(ss, dir, col("event_type") === "click").map(RangeEvent.tupled)
      val es  = events(ss, dir, col("event_type") === "error").map(RangeEvent.tupled)
      implicit val sq = ss.sqlContext
      val inC = MemoryStream[RangeEvent]
      val inE = MemoryStream[RangeEvent]
      // ALL errors in micro-batch 0, ALL clicks in micro-batch 1: every
      // match is found across the batch boundary from buffered error
      // state (the strongest form of the cross-batch property) at the
      // minimum number of state-store commit rounds. The click-side
      // watermark stays at 0 until clicks arrive, so no error state is
      // evicted early.
      run(ss, StreamingOps.intervalJoin(inC.toDS(), inE.toDS(), RangeWindowUs))(
        Seq(() => inE.addData(es), () => inC.addData(cs)))
        .select(col("click_id"), col("error_id"), col("user_id"), col("gap_us"))
    }),

    // LEFT OUTER stream-stream interval join: same operator, the harder
    // output contract — an unmatched click emits (error_id null) only
    // when the watermark proves no matching error can still arrive, so
    // the replay ends with sentinel batches on BOTH sides pushing the
    // watermark past last click + window, then a second sentinel round to
    // fire the eviction that emits the null rows. Oracle: the LEFT JOIN
    // twin of q_range_join.
    "stream_interval_join_left" -> ((s, dir) => {
      val ss = replaySession(s)
      import ss.implicits._
      val cs    = events(ss, dir, col("event_type") === "click").map(RangeEvent.tupled)
      val es    = events(ss, dir, col("event_type") === "error").map(RangeEvent.tupled)
      val maxMs = (cs ++ es).map(_.event_time.getTime).max
      implicit val sq = ss.sqlContext
      val inC   = MemoryStream[RangeEvent]
      val inE   = MemoryStream[RangeEvent]
      // two sentinel rounds on both sides: advance the watermark past
      // every pending click's match window, then fire the eviction pass
      // that emits the unmatched-left rows
      val sentinels = Seq(48L, 49L).map[() => Unit](h => () => {
        val t = new Timestamp(maxMs + h * 3600 * 1000)
        inC.addData(RangeEvent(-1L, t, -1L))
        inE.addData(RangeEvent(-1L, t, -2L))
      })
      // same two-batch feed as stream_interval_join: all errors buffer
      // first, all clicks match against that state across the boundary
      run(ss, StreamingOps.intervalJoin(inC.toDS(), inE.toDS(), RangeWindowUs,
        joinType = "left_outer"))(
        Seq[() => Unit](() => inE.addData(es), () => inC.addData(cs)) ++ sentinels)
        .filter(col("user_id") =!= -1L)
        .select(col("click_id"), col("error_id"), col("user_id"), col("gap_us"))
    }),

    // Stream-static enrichment: facts stream through MemoryStream, the
    // user→cohort dimension is a STATIC batch frame broadcast into every
    // micro-batch (stateless join), enriched rows aggregate into
    // watermarked tumbling windows per cohort. The sentinel fact's user
    // is absent from the dim — it must still advance the watermark (the
    // join sits downstream of the watermark operator), which is exactly
    // the subtle ordering the operator documents. Oracle: the batch twin
    // join+window in SQL.
    "stream_static_join" -> ((s, dir) => {
      val ss = replaySession(s)
      import ss.implicits._
      val rows = events(ss, dir).map(EnrichEvent.tupled)
      val dim  = ss.read.parquet(s"$dir/events.parquet")
        .select(col("user_id").cast("long")).distinct()
        .select(col("user_id"), (col("user_id") % 3).as("cohort"))
      val maxTs = rows.map(_.event_time.getTime).max
      // sentinel: unmatched user (dropped by the join) still advances
      // the watermark past every real window's end
      val sentinel = EnrichEvent(-1L, new Timestamp(maxTs + 3600L * 1000), -1L)
      replay(ss, halves(rows) :+ Seq(sentinel))(StreamingOps.enrichedCohortCounts(_, dim))
        .select(unix_micros(col("window_start")).as("window_start_us"),
          unix_micros(col("window_end")).as("window_end_us"),
          col("cohort"), col("n_events"))
    }),

    // Streaming exact dedup over documents ∪ byte-identical re-crawled
    // copies arriving in later micro-batches (constant event time keeps
    // all state in-watermark, so the run is a full-history dedup). Output
    // = the surviving distinct content hashes; oracle = batch DISTINCT.
    "stream_dedup_exact" -> ((s, dir) => {
      val ss = replaySession(s)
      import ss.implicits._
      val t0   = new Timestamp(86400L * 1000)
      val base = collectBounded(ss.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id").cast("long"), col("text")).as[(Long, String)])
        .sortBy(_._1).toSeq
      // copies interleave with late originals across batches
      val batches = Seq(
        base.take(base.length / 2).map { case (id, tx) => (t0, id.toString, tx) },
        (base.drop(base.length / 2) ++ base.take(base.length / 2).map(r => (r._1 + 1000000L, r._2)))
          .map { case (id, tx) => (t0, id.toString, tx) },
        base.drop(base.length / 2).map { case (id, tx) => ((t0, (id + 1000000L).toString, tx)) })
      replay(ss, batches)(in => StreamingOps.dedupStream(in.toDF("event_time", "doc_id", "text")))
        .select(col("content_hash"))
    }),

    // Streaming NEAR-dedup: documents stream in doc_id order, their
    // near-dup copies (+1e6, " zzz") arrive in a later micro-batch, and
    // the full LSH pipeline — tokenize, digest, shingle-combine, minhash,
    // banding — runs IN-STREAM, with per-band-key state answering "did an
    // earlier doc carry this key". With ascending-id arrival, "earlier in
    // the stream" ≡ "lower doc_id", so the batch twin is the banding
    // self-join over the same corpus — the driver's hash gate proves the
    // stateful streaming operator reproduces it exactly.
    "stream_dedup_near" -> ((s, dir) => {
      val ss = replaySession(s)
      import ss.implicits._
      val t0     = new Timestamp(86400L * 1000)
      val base   = collectBounded(ss.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id").cast("long"), col("text")).as[(Long, String)])
        .sortBy(_._1).toSeq
      val copies = base.map { case (id, tx) => (id + 1000000L, tx + " zzz") }
      val batches = Seq(
        base.take(base.length / 2).map { case (id, tx) => (t0, id, tx) },
        base.drop(base.length / 2).map { case (id, tx) => (t0, id, tx) },
        copies.map { case (id, tx) => (t0, id, tx) })
      replay(ss, batches)(in =>
        StreamingOps.nearDedupStream(in.toDF("event_time", "doc_id", "text")))
        .groupBy(col("doc_id"))
        .agg(expr("bool_or(seen)").as("near_dup"))
    }),

    // Streaming token-bucket rate limiter: fetch requests (events keyed
    // to ~97 hosts) replay chronologically; the per-host bucket state
    // lives in flatMapGroupsWithState across micro-batches. The oracle
    // is a recursive CTE stepping the IDENTICAL integer recurrence —
    // min-cap refill + conditional spend is sequential state no window
    // function expresses, so this pair proves the streaming state
    // machine against a from-first-principles replay of the recurrence.
    "stream_rate_limit" -> ((s, dir) => {
      val ss = replaySession(s)
      import ss.implicits._
      val rows = collectBounded(ss.read.parquet(s"$dir/events.parquet")
        .select((col("user_id") % 97L).as("host_id"),
          unix_micros(col("ts").cast("timestamp")).as("us"),
          col("event_id").cast("long").as("event_id"))
        .as[FetchReq])
        .sortBy(e => (e.us, e.event_id)).toSeq
      replay(ss, halves(rows), mode = "update")(StreamingOps.rateLimit)
    }))

  // --- DuckDB oracles (the batch twins) -----------------------------------

  /** Oracle twin of stream_hll_window: windows + registers + estimate
    * recomputed from the parquet with the batch HLL geometry — the hash
    * compare proves stream-merged registers == batch registers. */
  private val dkHllWindow: String = {
    import graft.functions.TextKernels.Dk
    import graft.operators.Sketches.{M, WBits}
    val scale = 1L << (WBits + 1)
    s"""WITH regs AS (
       |  SELECT ws, reg, max(rho) AS rho FROM (
       |    SELECT (epoch_us(ts) // 300000000) * 300000000 AS ws,
       |      h % $M AS reg,
       |      CASE WHEN h // $M = 0 THEN ${WBits + 1}
       |           ELSE ${WBits + 1} - length(to_base(h // $M, 2)) END AS rho
       |    FROM (SELECT ts, ${Dk.hex32("user_id::VARCHAR")} AS h FROM events))
       |  GROUP BY 1, 2),
       |est AS (
       |  SELECT ws, count(*)::BIGINT AS m_hit,
       |    ($M - count(*))::BIGINT AS v_zero,
       |    sum(pow(2, ${WBits + 1} - rho)::BIGINT)::BIGINT AS hit_sum
       |  FROM regs GROUP BY 1)
       |SELECT ws AS window_start_us, ws + 300000000 AS window_end_us,
       |  m_hit, v_zero,
       |  round(0.7213 / (1.0 + 1.079 / ${M.toDouble})
       |    * ${M.toDouble} * ${M.toDouble}
       |    / ((hit_sum + v_zero * $scale)::DOUBLE / ${scale.toDouble}), 4)
       |    AS raw_estimate
       |FROM est""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "stream_hll_window" -> dkHllWindow,
    // time_bucket's default origin (2000-01-03) sits on the 5-minute grid,
    // so buckets equal Spark's epoch-aligned window()
    "stream_events_window" ->
      """SELECT epoch_us(time_bucket(INTERVAL '5 minutes', ts)) AS window_start_us,
        |  epoch_us(time_bucket(INTERVAL '5 minutes', ts) + INTERVAL '5 minutes') AS window_end_us,
        |  event_type AS kind, count(*) AS n_spans
        |FROM events GROUP BY 1, 2, 3""".stripMargin,
    // q_sessionize's oracle verbatim: the stream must reproduce the batch
    // sessionization exactly
    "stream_sessionize" ->
      """WITH x AS (
        |  SELECT user_id,
        |    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) IS NULL
        |           OR epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)) > 1800000000
        |         THEN 1 ELSE 0 END AS new_sess
        |  FROM events)
        |SELECT user_id, sum(new_sess)::BIGINT AS n_sessions, count(*) AS n_events
        |FROM x GROUP BY 1""".stripMargin,
    "stream_dedup_exact" ->
      "SELECT DISTINCT md5(text) AS content_hash FROM documents",
    // batch twin of the streaming LSH near-dedup: with ascending-id
    // arrival the stream's "seen earlier" is exactly "a lower doc_id
    // shares a band key" — the same dkSig banding the batch LSH oracles
    // use, over the same planted dup corpus
    "stream_dedup_near" ->
      s"""WITH ${graft.operators.Dedup.dkCorpus},
         |${graft.operators.Dedup.dkSig("corpus")},
         |dups AS (
         |  SELECT DISTINCT r.doc_id FROM banded l JOIN banded r
         |  ON l.band = r.band AND l.k1 = r.k1 AND l.k2 = r.k2
         |    AND l.doc_id < r.doc_id)
         |SELECT doc_id, doc_id IN (SELECT doc_id FROM dups) AS near_dup
         |FROM (SELECT DISTINCT doc_id FROM corpus)""".stripMargin,
    // batch twin of the stream-static enrichment: every event user is in
    // the (distinct-users) dim, so the inner join keeps all events
    "stream_static_join" ->
      """WITH dim AS (SELECT DISTINCT user_id, user_id % 3 AS cohort FROM events)
        |SELECT epoch_us(time_bucket(INTERVAL '5 minutes', ts)) AS window_start_us,
        |  epoch_us(time_bucket(INTERVAL '5 minutes', ts) + INTERVAL '5 minutes') AS window_end_us,
        |  cohort, count(*) AS n_events
        |FROM events JOIN dim USING (user_id)
        |GROUP BY 1, 2, 3""".stripMargin,
    // q_range_join's oracle verbatim: the native stream-stream join must
    // reproduce the canonical batch interval join exactly
    "stream_interval_join" -> graft.operators.Temporal.oracles("q_range_join"),
    // the LEFT JOIN twin: unmatched clicks survive with null error/gap
    "stream_interval_join_left" ->
      s"""WITH c AS (SELECT event_id AS click_id, user_id, epoch_us(ts) AS c_us
         |           FROM events WHERE event_type = 'click'),
         |e AS (SELECT event_id AS error_id, user_id, epoch_us(ts) AS e_us
         |      FROM events WHERE event_type = 'error')
         |SELECT c.click_id, e.error_id, c.user_id, c.c_us - e.e_us AS gap_us
         |FROM c LEFT JOIN e ON c.user_id = e.user_id
         | AND c.c_us >= e.e_us
         | AND c.c_us < e.e_us + ${graft.operators.Temporal.RangeWindowUs}""".stripMargin,
    // q_asof_join's oracle verbatim (DuckDB native ASOF LEFT JOIN): the
    // stream must reproduce the canonical batch as-of exactly
    "stream_asof_join" ->
      """WITH c AS (SELECT event_id AS click_id, user_id, epoch_us(ts) AS c_us
        |           FROM events WHERE event_type = 'click'),
        |v AS (SELECT event_id AS view_id, user_id, epoch_us(ts) AS v_us
        |      FROM events WHERE event_type = 'view')
        |SELECT c.click_id, c.user_id, v.view_id, c.c_us - v.v_us AS lag_us
        |FROM c ASOF LEFT JOIN v ON c.user_id = v.user_id AND c.c_us >= v.v_us""".stripMargin,

    // recursive CTE stepping the token-bucket recurrence host by host,
    // one observation per iteration (the recursive term sees only the
    // previous iteration's rows — each host advances its own pointer):
    // tok_before = min(cap, tok + Δus // refill), spend iff ≥ cost.
    // Constants mirror StreamingOps.{RateCapMu, RateCostMu,
    // RateRefillUsPerMu}; the first observation finds a full bucket.
    "stream_rate_limit" -> {
      val cap    = StreamingOps.RateCapMu
      val cost   = StreamingOps.RateCostMu
      val refill = StreamingOps.RateRefillUsPerMu
      val r      = s"least($cap, s.tok_mu + (o.us - s.us) // $refill)"
      s"""WITH RECURSIVE o AS (
         |  SELECT user_id % 97 AS host_id, event_id, epoch_us(ts) AS us,
         |    row_number() OVER (
         |      PARTITION BY user_id % 97 ORDER BY epoch_us(ts), event_id)::BIGINT AS rn
         |  FROM events),
         |sim AS (
         |  SELECT host_id, rn, us, event_id,
         |    $cap::BIGINT AS tok_before, true AS allowed,
         |    ${cap - cost}::BIGINT AS tok_mu
         |  FROM o WHERE rn = 1
         |  UNION ALL
         |  SELECT o.host_id, o.rn, o.us, o.event_id,
         |    ($r)::BIGINT AS tok_before,
         |    $r >= $cost AS allowed,
         |    (CASE WHEN $r >= $cost THEN $r - $cost ELSE $r END)::BIGINT AS tok_mu
         |  FROM sim s JOIN o ON o.host_id = s.host_id AND o.rn = s.rn + 1)
         |SELECT host_id, event_id, us, tok_before AS tok_before_mu, allowed
         |FROM sim""".stripMargin
    })
}
