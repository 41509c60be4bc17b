package graft.streaming

import java.util.UUID

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}

import graft.Tables

/** Structured Streaming surface. The reference is strictly batch /
  * in-memory (SURVEY §2.3: no streaming exists in zvdb), so this module
  * is pure extension: the events analytics of
  * [[graft.operators.EventsOps]] re-expressed as streams, so a user can
  * run the same aggregations continuously.
  *
  * For the correctness gate, [[streamingHourly]] drives the parquet
  * file source to completion and returns the memory-sink table — a
  * bounded stream whose final answer must equal the batch/DuckDB
  * result, which makes a *streaming* operator hash-oracle-checkable.
  *
  * Scale: tumbling-window counts/sums keyed by (window, type) are
  * classic low-cardinality streaming state; the sessionizer keeps one
  * small state object per user with an inactivity timeout — state size
  * is O(active users), independent of stream length.
  */
object StreamingOps {

  /** File-source stream over `$d/<table>.parquet`, handling BOTH
    * fixture layouts: the driver fixtures store each table as a single
    * FILE (the file source wants a directory, so stream the parent
    * with a name glob), while repo-generated fixtures (FixtureGen,
    * sf1) are Spark-written DIRECTORIES of part files (stream the
    * directory itself — a name glob against part-*.snappy.parquet
    * would match nothing and silently deliver an EMPTY stream, which
    * is exactly what the first sf1 scale run did). */
  private def tableStream(s: SparkSession, d: String, table: String): DataFrame = {
    // session-wide by design, matching graft.Tables' batch readers:
    // every fixture vintage with INT64-nanos timestamps is read as
    // LONG and folded by Tables.normalizeTs; scoping it per-stream
    // would leave batch and stream reads of one session inconsistent
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val path = s"$d/$table.parquet"
    val schema = s.read.parquet(path).schema
    val base = s.readStream.schema(schema)
    // directory detection through the Hadoop FileSystem API: on a
    // non-local store (s3a://, hdfs://) java.io.File.isDirectory is
    // ALWAYS false, which would route a Spark-written directory table
    // into the glob branch where pathGlobFilter matches no part file
    // and the stream silently delivers zero rows — the exact failure
    // this two-layout split exists to prevent
    val hpath = new org.apache.hadoop.fs.Path(path)
    val isDir = hpath.getFileSystem(s.sparkContext.hadoopConfiguration)
      .getFileStatus(hpath).isDirectory
    if (isDir) base.parquet(path)
    else base.option("pathGlobFilter", s"$table.parquet").parquet(d)
  }

  /** Memory-sink names, one LIVE sink per query kind: each invocation
    * drops the previous invocation's temp view before registering its
    * own, so repeated Bench/Verify runs hold at most one result set
    * per kind in driver memory instead of accumulating a UUID-named
    * view (and its full rows) per call. The previous invocation's
    * returned DataFrame dies with its view — results are caller-owned
    * per invocation, the build-state lifecycle posture. */
  private val liveSinks = scala.collection.concurrent.TrieMap.empty[String, String]
  private def freshSink(s: SparkSession, kind: String): String = {
    liveSinks.remove(kind).foreach(s.catalog.dropTempView)
    val name = kind + "_" + UUID.randomUUID().toString.replace("-", "")
    liveSinks.put(kind, name)
    name
  }

  /** Hourly per-type counts and value sums, computed by a streaming
    * query over the events parquet (file source), complete mode,
    * memory sink; returns the final table. Decimal accumulation makes
    * the result identical to the batch oracle regardless of batch
    * boundaries or arrival order. */
  def streamingHourly(s: SparkSession, d: String): DataFrame =
      withFeedShards(s, d, "events") {
    val src = tableStream(s, d, "events")
      .transform(graft.Tables.normalizeTs)
    val agg = src
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 6))).cast("double").as("sum_value"))
    val name = freshSink(s, "stream_hourly")
    val q = agg.writeStream
      .outputMode(OutputMode.Complete)
      .format("memory")
      .queryName(name)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    s.table(name)
      .select(
        col("window.start").as("hour"), col("event_type"),
        col("n"), col("sum_value"))
      .orderBy(col("hour"), col("event_type"))
  }

  /** Per-user running session state for [[streamingSessionize]]. */
  case class SessionState(sessionId: Long, lastUs: Long, startUs: Long, nEvents: Long)
  case class SessionOut(user_id: Long, session_id: Long, n_events: Long, duration_us: Long)

  /** Stateful streaming sessionizer (30-min inactivity gap) via
    * `flatMapGroupsWithState`: emits a session row whenever a gap
    * closes one. The streaming twin of
    * [[graft.operators.EventsOps.sessionize]]; exercised in
    * `StreamingSpec` with a MemoryStream driving out-of-order batches.
    */
  def streamingSessionize(
      s: SparkSession,
      events: DataFrame,
      gapMinutes: Int = 30): DataFrame = {
    import s.implicits._
    val gapUs = gapMinutes.toLong * 60L * 1000000L

    val typed = events
      .select(col("user_id").cast("long"), unix_micros(col("ts")).as("us"))
      .as[(Long, Long)]

    typed
      .groupByKey(_._1)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (userId, rows, state: GroupState[SessionState]) =>
          // within a batch, process this user's events in time order
          val sorted = rows.map(_._2).toSeq.sorted
          var st = state.getOption.getOrElse(SessionState(0L, Long.MinValue, 0L, 0L))
          val closed = scala.collection.mutable.ArrayBuffer[SessionOut]()
          sorted.foreach { us =>
            if (st.nEvents == 0L) {
              st = SessionState(1L, us, us, 1L)
            } else if (us - st.lastUs > gapUs) {
              closed += SessionOut(userId, st.sessionId, st.nEvents, st.lastUs - st.startUs)
              st = SessionState(st.sessionId + 1, us, us, 1L)
            } else {
              // the session frontier is the MAX event time seen and the
              // start the MIN: a cross-batch out-of-order event that
              // lands inside the current session must not REWIND
              // lastUs (a rewound frontier makes the next on-time event
              // look > gap away and falsely splits the session) nor be
              // excluded from the duration.
              // CONTRACT (gap horizon): correctness vs the batch
              // sessionizer is guaranteed only for out-of-order arrival
              // WITHIN the gap of the open session's extent. An event
              // arriving more than gap BEFORE startUs belongs to an
              // earlier session the batch form would have closed — but
              // per-key GroupState holds ONE open session and ids of
              // already-emitted sessions cannot be renumbered, so it is
              // merged here (startUs rewinds, duration inflates). The
              // bounded AvailableNow query sorts within batch and never
              // produces that arrival pattern; an unbounded deployment
              // that can should bound disorder with a watermark at the
              // gap (the event-time session-window operator is the tool
              // past that horizon, at the cost of this operator's
              // deterministic ordinal session ids).
              st = st.copy(lastUs = math.max(st.lastUs, us),
                startUs = math.min(st.startUs, us), nEvents = st.nEvents + 1)
            }
          }
          state.update(st)
          closed.iterator
      }
      .toDF()
  }

  /** [[streamingSessionize]] driven over the events parquet as a
    * bounded stream (file source, AvailableNow), Append mode: the
    * result is every session CLOSED by a later event — i.e. all but
    * each user's final (still-open) session. That subset is exactly
    * expressible in batch SQL, which makes the stateful
    * `flatMapGroupsWithState` path hash-oracle-checkable. */
  def streamingSessionizeQuery(s: SparkSession, d: String): DataFrame =
      withFeedShards(s, d, "events") {
    val src = tableStream(s, d, "events")
      .transform(graft.Tables.normalizeTs)
    val name = freshSink(s, "stream_sess")
    val q = streamingSessionize(s, src).writeStream
      .outputMode(OutputMode.Append)
      .format("memory")
      .queryName(name)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    s.table(name).orderBy(col("user_id"), col("session_id"))
  }

  /** Watermarked hourly aggregation — the append-mode streaming shape:
    * `withWatermark` bounds state (a window's state is dropped once
    * the watermark passes its end, so state size is O(windows within
    * the lateness horizon), not O(stream length)) and rows later than
    * the watermark are dropped. The transform alone, for spec-driven
    * MemoryStream tests ([[streamingLateHourlyQuery]] wires it to the
    * file source for the gate). */
  def lateHourlyAgg(events: DataFrame, delay: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", delay)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 6))).cast("double").as("sum_value"))

  /** [[lateHourlyAgg]] over the events parquet as a bounded stream,
    * APPEND mode: only FINALIZED windows — those whose end the final
    * watermark (max event time − delay) has passed — are emitted.
    * That subset is exactly expressible in batch SQL, which puts the
    * watermark semantics themselves under the hash gate. */
  def streamingLateHourlyQuery(s: SparkSession, d: String): DataFrame =
      withFeedShards(s, d, "events") {
    val src = tableStream(s, d, "events")
      .transform(graft.Tables.normalizeTs)
    val name = freshSink(s, "stream_late")
    val q = lateHourlyAgg(src).writeStream
      .outputMode(OutputMode.Append)
      .format("memory")
      .queryName(name)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    s.table(name)
      .select(
        col("window.start").as("hour"), col("event_type"),
        col("n"), col("sum_value"))
      .orderBy(col("hour"), col("event_type"))
  }

  /** Stream-static join: the event stream enriched per-row with a
    * static per-customer order profile (broadcast each micro-batch —
    * the standard dimension-enrichment shape), then aggregated by
    * event type. Stateless join + low-cardinality aggregate; decimal
    * accumulation makes the final table batch-identical regardless of
    * batch boundaries. */
  def streamingEnrichQuery(s: SparkSession, d: String): DataFrame =
      withFeedShards(s, d, "events") {
    val src = tableStream(s, d, "events")
    val dim = Tables.orders(s, d)
      .groupBy(col("o_custkey").as("user_id"))
      .agg(
        count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast(DecimalType(12, 2))).as("spend"))
    val agg = src.join(broadcast(dim), Seq("user_id"), "left")
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(coalesce(col("n_orders"), lit(0L))).as("sum_user_orders"),
        sum(coalesce(col("spend"), lit(0).cast(DecimalType(12, 2))))
          .cast("double").as("sum_user_spend"))
    val name = freshSink(s, "stream_enrich")
    val q = agg.writeStream
      .outputMode(OutputMode.Complete)
      .format("memory")
      .queryName(name)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    s.table(name).orderBy(col("event_type"))
  }

  /** STREAM-STREAM inner join with an event-time range condition — the
    * attribution query (each purchase matched to same-user views in
    * the preceding 30 minutes), the last Structured Streaming join
    * category the suite didn't declare. Both sides carry watermarks
    * and the join has a two-sided time bound, so each side's buffered
    * state is evicted once the other side's watermark passes the
    * range — state is O(events within the watermark horizon), not
    * O(stream length). On the bounded AvailableNow run the file source
    * delivers one micro-batch, so no row can arrive behind the
    * watermark and the final table equals the batch interval join —
    * which is what makes a stream-stream join hash-oracle-checkable. */
  /** Feed-sized state shard count for a stream-stream join: each state
    * partition costs 4 store commits per micro-batch (left/right × 2)
    * regardless of how little state it holds, and the commit is file
    * IO the join's actual work cannot hide behind — measured at sf0.1
    * (200k events): the join plan itself is 0.4 s as a batch query but
    * 32 shards × 4 stores × 2 AvailableNow batches = 256 delta-file
    * commits put the streaming form at ~6 s (aggregate commitMs 75–90
    * s, run in parallel). So shards follow the FEED VOLUME — ~32 MB of
    * source per shard, floor 8 — and cap at the session's configured
    * shuffle parallelism, which stays authoritative at cluster scale
    * (a 100 TB feed hits the cap; the knob only trims the fixed
    * per-shard commit tax when the feed is small). */
  private[graft] def stateShards(s: SparkSession, d: String, table: String): Int = {
    val f = new java.io.File(s"$d/$table.parquet")
    val bytes =
      if (f.isDirectory) f.listFiles().filter(_.isFile).map(_.length).sum
      else f.length()
    val bySize = math.max(8L, bytes / (32L << 20))
    val cap = s.conf.get("spark.sql.shuffle.partitions", "200").toInt
    math.min(bySize, cap.toLong).toInt
  }

  /** Scoped feed-sized state sharding: state partitioning is fixed at
    * the first batch from `spark.sql.shuffle.partitions`, so set it
    * for THIS query's fresh checkpoint and restore after — results are
    * shard-count invariant (the oracle pins them), only the per-shard
    * commit tax changes. r14: generalized from `streaming_join` to
    * EVERY stateful streaming query — each state shard costs store
    * commits per micro-batch (file IO) regardless of how little state
    * it holds, so a session-parallelism shard count (32 here) taxes a
    * small feed ~4× the work the query itself does; the feed-derived
    * count keeps the cap authoritative at cluster scale (guide §2:
    * scale-adaptive partitioning, not a local-mode constant).
    * The one conf scope NOT taken through
    * [[graft.operators.SessionConf.scoped]]: `body` blocks in
    * `awaitTermination` while micro-batch threads run engine code
    * (`IndexMaintainer` → `hnswFoldBatch`), so holding that scope's
    * lock across the wait would deadlock as soon as such code entered
    * a scope itself. */
  private def withFeedShards[T](s: SparkSession, d: String,
                                table: String)(body: => T): T = {
    val shuffleKey = "spark.sql.shuffle.partitions"
    val prev = s.conf.get(shuffleKey)
    s.conf.set(shuffleKey, stateShards(s, d, table).toString)
    try body
    finally {
      s.conf.set(shuffleKey, prev)
      // unload this query's state-store providers NOW: a terminated
      // query's providers stay registered until the 60 s maintenance
      // pass notices they are inactive, and the accumulated set
      // throttles the NEXT stateful query — measured on the
      // stream-stream join: reps 4.5 → 8.1 → 15.3 → 30.8 s (doubling
      // per run) then back to 12 s right as the first maintenance
      // interval fired; with the explicit unload the reps are flat.
      // The caller-owned-state discipline (free what you allocate,
      // Ann.freeBuildState's posture) applied to state stores. Safe
      // here: the memory-sink result is already materialized and the
      // engine's declared streaming queries never run concurrently.
      org.apache.spark.sql.graftbridge.SqlBridge.unloadStateStores()
    }
  }

  def streamingJoinQuery(s: SparkSession, d: String): DataFrame =
    withFeedShards(s, d, "events") { streamingJoinQueryInner(s, d) }

  private def streamingJoinQueryInner(s: SparkSession, d: String): DataFrame = {
    val src = tableStream(s, d, "events")
      .transform(graft.Tables.normalizeTs)
    val views = src.filter(col("event_type") === "view")
      .select(col("user_id"), col("event_id").as("view_id"), col("ts").as("view_ts"))
      .withWatermark("view_ts", "1 hour")
    val buys = src.filter(col("event_type") === "purchase")
      .select(col("user_id").as("buy_user"), col("event_id").as("buy_id"),
        col("value"), col("ts").as("buy_ts"))
      .withWatermark("buy_ts", "1 hour")
    val joined = views.join(buys,
      col("user_id") === col("buy_user") &&
        col("buy_ts") >= col("view_ts") &&
        col("buy_ts") <= col("view_ts") + expr("INTERVAL 30 MINUTES"))
      .select(col("user_id"), col("view_id"), col("buy_id"), col("value"))
    val name = freshSink(s, "stream_join")
    val q = joined.writeStream
      .outputMode(OutputMode.Append)
      .format("memory")
      .queryName(name)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    s.table(name).orderBy(col("user_id"), col("view_id"), col("buy_id"))
  }

  /** Streaming exact dedup — ingestion-time dedup of a document feed,
    * the streaming twin of [[graft.operators.TextOps]]' batch
    * `dedup_docs_exact`: the documents parquet driven as a bounded
    * stream, `dropDuplicates` on the content hash, Append mode (each
    * key's first arrival emits; subsequent duplicates are swallowed by
    * the state store). Declared output is the distinct key set — the
    * only arrival-order-independent projection, which is what makes a
    * stateful streaming dedup hash-oracle-checkable. State is O(unique
    * keys); an unbounded production feed bounds it with
    * `dropDuplicatesWithinWatermark` (same plan + a ts watermark,
    * dedup guaranteed only within the lateness horizon). */
  def streamingDedupQuery(s: SparkSession, d: String): DataFrame =
      withFeedShards(s, d, "documents") {
    val src = tableStream(s, d, "documents")
    val name = freshSink(s, "stream_dedup")
    val q = src
      .select(md5(col("text")).as("content_hash"))
      .dropDuplicates("content_hash")
      .writeStream
      .outputMode(OutputMode.Append)
      .format("memory")
      .queryName(name)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    s.table(name).orderBy(col("content_hash"))
  }

  /** STREAMING INDEX MAINTENANCE — the batch/streaming symmetry of the
    * vector-index lifecycle: arrivals from a stream fold into the
    * persisted HNSW edge table via [[graft.operators.Ann.hnswFoldBatch]]
    * (the O(Δ·n) insert-delta math), one fold per micro-batch, with
    * the streaming-dedup pattern composed upstream so an at-least-once
    * feed still satisfies the fold's exactly-once precondition.
    *
    * Usage (the StreamingSpec contract):
    * {{{
    *   val maint = new IndexMaintainer(s, d, Ann.ensureBaseIndex(s, d))
    *   arrivals                       // streaming DF with vec_id
    *     .dropDuplicates("vec_id")    // bounded-state dedup gate
    *     .writeStream.foreachBatch(maint.fold _).start()
    *   ...; maint.current             // the maintained index
    * }}}
    *
    * The folded STATE is the wide plain top-(DiversityWiden·m) form
    * every incremental operator maintains (see
    * [[graft.operators.Ann.DiversityWiden]] — a diversity-pruned state
    * would discard candidates a later arrival could make diverse
    * again); `current` presents it through the declared
    * diversity-selected adjacency ([[graft.operators.Ann.hnswIndexView]]),
    * and `currentState` exposes the raw wide state for composition.
    *
    * Each fold eagerly checkpoints the new index state, truncating
    * lineage so batch N+1 plans against a materialized table, not the
    * whole fold history — the same bounded-plan discipline as the
    * search recurrences. Because the fold is associative (insert-delta
    * ≡ rebuild, proven by the hash gate), the final index is invariant
    * to micro-batch boundaries — pinned in StreamingSpec by running
    * the same arrivals as one batch and as three. */
  final class IndexMaintainer(s: SparkSession, d: String,
                              initial: DataFrame, m: Int = 16) {
    @volatile private var state: DataFrame =
      initial.select(col("level"), col("src"), col("dst"), col("dist"))
        .localCheckpoint()
    def fold(batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
             batchId: Long): Unit = {
      val ids = batch.select(col("vec_id")).collect().map(_.getLong(0)).toSet
      if (ids.nonEmpty)
        state = graft.operators.Ann.hnswFoldBatch(s, d, state, ids, m)
          .localCheckpoint()
    }
    def current: DataFrame = graft.operators.Ann.hnswIndexView(s, d, state, m)
    def currentState: DataFrame = state
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "streaming_hourly"    -> ((s, d) => streamingHourly(s, d)),
    "streaming_sessionize" -> ((s, d) => streamingSessionizeQuery(s, d)),
    "streaming_enrich"    -> ((s, d) => streamingEnrichQuery(s, d)),
    "streaming_late_hourly" -> ((s, d) => streamingLateHourlyQuery(s, d)),
    "streaming_dedup"     -> ((s, d) => streamingDedupQuery(s, d)),
    "streaming_join"      -> ((s, d) => streamingJoinQuery(s, d))
  )

  val oracles: Map[String, String] = Map(
    "streaming_hourly" ->
      """SELECT date_trunc('hour', ts) AS hour, event_type, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY hour, event_type""".stripMargin,
    // batch sessionize (same recurrence as the `sessionize` oracle)
    // minus each user's last — still open — session
    "streaming_sessionize" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
        |f AS (SELECT *, CASE WHEN us - lag(us) OVER w > 1800000000 OR lag(us) OVER w IS NULL
        |                     THEN 1 ELSE 0 END AS new_session
        |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
        |s AS (SELECT *, sum(new_session) OVER (PARTITION BY user_id ORDER BY us, event_id
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id FROM f),
        |g AS (SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
        |        count(*) AS n_events, max(us) - min(us) AS duration_us
        |      FROM s GROUP BY user_id, session_id)
        |SELECT user_id, session_id, n_events, duration_us FROM g
        |QUALIFY session_id < max(session_id) OVER (PARTITION BY user_id)
        |ORDER BY user_id, session_id""".stripMargin,
    // append mode emits exactly the windows whose end <= final
    // watermark (max event time − 10 min); the batch restatement of
    // the eviction rule
    "streaming_late_hourly" ->
      """WITH a AS (SELECT date_trunc('hour', ts) AS hour, event_type, count(*) AS n,
        |             CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |           FROM events GROUP BY 1, 2)
        |SELECT hour, event_type, n, sum_value FROM a
        |WHERE hour + INTERVAL 1 HOUR <= (SELECT max(ts) - INTERVAL 10 MINUTE FROM events)
        |ORDER BY hour, event_type""".stripMargin,
    "streaming_enrich" ->
      """WITH dim AS (SELECT o_custkey AS user_id, count(*) AS n_orders,
        |               sum(CAST(o_totalprice AS DECIMAL(12,2))) AS spend
        |             FROM orders GROUP BY 1)
        |SELECT event_type, count(*) AS n,
        |  CAST(sum(coalesce(n_orders, 0)) AS BIGINT) AS sum_user_orders,
        |  CAST(sum(coalesce(spend, CAST(0 AS DECIMAL(12,2)))) AS DOUBLE) AS sum_user_spend
        |FROM events LEFT JOIN dim USING (user_id)
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    // the distinct key set is arrival-order-independent, so the batch
    // restatement of a streaming dedup is plain DISTINCT
    "streaming_dedup" ->
      """SELECT DISTINCT md5(text) AS content_hash FROM documents
        |ORDER BY content_hash""".stripMargin,
    // single-batch AvailableNow -> nothing falls behind the watermark,
    // so the streaming interval join's final table IS the batch join
    "streaming_join" ->
      """WITH v AS (SELECT user_id, event_id AS view_id, ts AS view_ts
        |           FROM events WHERE event_type = 'view'),
        |p AS (SELECT user_id, event_id AS buy_id, value, ts AS buy_ts
        |      FROM events WHERE event_type = 'purchase')
        |SELECT v.user_id, view_id, buy_id, value
        |FROM v JOIN p ON v.user_id = p.user_id
        |  AND buy_ts >= view_ts AND buy_ts <= view_ts + INTERVAL 30 MINUTE
        |ORDER BY v.user_id, view_id, buy_id""".stripMargin
  )
}
