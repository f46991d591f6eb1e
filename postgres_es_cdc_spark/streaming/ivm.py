"""Incremental view maintenance (IVM) for streaming aggregates:
maintain a grouped aggregate table across micro-batches by merging
PARTIAL aggregates, never re-scanning history.

REF anchor: the reference's consumer is an incremental materializer of
latest-state (es.go:47-144); this is the same idea one level up — the
materialized object is an AGGREGATE of the stream, kept current per
micro-batch. [EXT]: the reference has no aggregation at all
(SURVEY.md §2).

Scale shape: each micro-batch is partially aggregated map-side (one
counter row per group per batch), unioned with the prior aggregate
table (one row per group) and re-reduced — cost per batch is
O(batch + |groups|), independent of stream history length. Sum/count/
min/max are all associative+commutative, so batch boundaries cannot
change the result (the batch==stream test pins this).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from postgres_es_cdc_spark.streaming.store import (SnapshotStore,
                                                   VersionedStore)


class AggSink:
    """foreachBatch sink maintaining SUM/COUNT/MIN/MAX per group key.

    Values are aggregated as exact integers (caller quantizes doubles
    first if needed) so replay-divergence can't hide in float
    reassociation. State is the one frame of a SnapshotStore
    (streaming/store.py): versioned dir + atomic manifest + batch-id
    replay gate (SUM/COUNT are not idempotent — without the gate an
    at-least-once redelivery would double-count).
    """

    def __init__(self, path: str, group_col: str, value_col: str):
        self.path = path
        self.group_col = group_col
        self.value_col = value_col
        self._st = SnapshotStore(path)

    def _partial(self, df: DataFrame) -> DataFrame:
        g, v = self.group_col, self.value_col
        return df.groupBy(g).agg(
            F.sum(v).alias("sum_v"),
            F.count(v).alias("n_v"),
            F.min(v).alias("min_v"),
            F.max(v).alias("max_v"))

    @staticmethod
    def _merge(parts: DataFrame, group_col: str) -> DataFrame:
        return parts.groupBy(group_col).agg(
            F.sum("sum_v").alias("sum_v"),
            F.sum("n_v").alias("n_v"),
            F.min("min_v").alias("min_v"),
            F.max("max_v").alias("max_v"))

    def apply_batch(self, batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        if self._st.applied(batch_id):
            return                      # committed replay: no double count
        parts = self._partial(batch)
        prior = self._st.state(spark)
        if prior is not None:
            parts = prior.unionByName(parts)
        self._st.replace(self._merge(parts, self.group_col), batch_id)

    def state(self, spark) -> DataFrame | None:
        return self._st.state(spark)

    def writer(self):
        return self.apply_batch


def ivm_orders_priority_rollup(spark, sf_dir: str) -> DataFrame:
    """Incremental view maintenance exposed as a driver-checkable query:
    fold orders into a per-priority SUM/COUNT/MIN/MAX aggregate through
    three incremental batches using AggSink's partial/merge algebra —
    the exact per-micro-batch code path the streaming sink runs — and
    return the maintained view. The algebra is associative+commutative
    over exact integer cents, so batch boundaries provably cannot change
    the result: the oracle is the one-shot GROUP BY (which is also what
    a from-scratch rebuild would compute).

    Scale shape: each batch contributes one partial-agg row per group
    (map-side combine), the merge re-reduces |groups| rows — per-batch
    cost O(batch + |groups|), independent of history length."""
    from postgres_es_cdc_spark.catalog import table

    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority",
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"))
    sink = AggSink(path="", group_col="o_orderpriority", value_col="cents")
    view: DataFrame | None = None
    for i in range(3):
        parts = sink._partial(
            orders.filter(F.col("o_orderkey") % 3 == i).drop("o_orderkey"))
        view = parts if view is None else AggSink._merge(
            view.unionByName(parts), "o_orderpriority")
    return view.select(
        F.col("o_orderpriority").alias("priority"),
        F.col("sum_v").alias("sum_cents"), F.col("n_v").alias("n_orders"),
        F.col("min_v").alias("min_cents"), F.col("max_v").alias("max_cents"))


IVM_ORDERS_ROLLUP_SQL = """
SELECT o_orderpriority AS priority,
       CAST(SUM(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT)
         AS sum_cents,
       COUNT(*) AS n_orders,
       CAST(MIN(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT)
         AS min_cents,
       CAST(MAX(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT)
         AS max_cents
FROM orders
GROUP BY o_orderpriority
"""


# Registry defaults for the watermark-windowed rollup: 1-day tumbling
# event-time windows, 7-day lateness allowance (the driver events span
# ~30 days, so deterministic %3 batch interleaving produces BOTH real
# late-but-allowed merges and genuinely-dropped stragglers).
WM_WINDOW_US = 86_400_000_000
WM_DELAY_US = 7 * 86_400_000_000


class WatermarkAggSink(VersionedStore):
    """foreachBatch sink maintaining a WINDOWED aggregate under
    event-time WATERMARK semantics — the late/out-of-order member of
    the IVM family (AggSink: keyed totals; TopKSink: order statistics;
    THIS: tumbling event-time windows with bounded lateness).

    Structured Streaming's contract, reproduced exactly: the watermark
    entering batch i is max(event time over batches < i) − delay; a row
    with ts < watermark is LATE — dropped from the view but never
    silently (the manifest accumulates n_late_total; late_report gives
    the per-batch statement). Retained rows partial-aggregate into
    their tumbling window (ts − ts % window) and merge by the same
    associative+commutative integer algebra as AggSink, so batch
    boundaries cannot change retained-row results.

    Durability: the sink is a VersionedStore (streaming/store.py) —
    agg frame, watermark, applied batch id, and late total repoint in
    ONE commit, so a crash before it leaves the prior state current and
    a checkpoint replay of the same batch id is a no-op (exactly-once
    on top of foreachBatch's at-least-once).

    Scale shape: per batch one map-side partial row per (window, group)
    + a |windows·groups|-row merge; the watermark gate is a scan-side
    filter against one broadcast scalar. State never grows with history
    length, only with the number of open windows·groups (eviction of
    closed windows is a consumer policy — the view keeps them, as a
    materialized rollup table would)."""

    def __init__(self, base_dir: str, group_col: str, ts_col: str,
                 value_col: str, window_us: int = WM_WINDOW_US,
                 delay_us: int = WM_DELAY_US):
        super().__init__(os.path.join(base_dir, "_wm_manifest.json"),
                         {"agg": None, "watermark_us": None,
                          "last_batch_id": -1, "n_late_total": 0})
        self.base_dir = base_dir
        self.group_col = group_col
        self.ts_col = ts_col
        self.value_col = value_col
        self.window_us = window_us
        self.delay_us = delay_us

    def state(self, spark) -> DataFrame | None:
        return self.read(spark, "agg")

    def apply_batch(self, batch: DataFrame, batch_id: int) -> None:
        if self.applied(batch_id):
            return                      # committed replay: no-op
        spark = batch.sparkSession
        meta = self.meta()
        wm = meta["watermark_us"]
        ts = F.col(self.ts_col)

        # One 1-row pass gives the batch max event time and the late
        # count (driver-side single row: accepted collect class).
        late_cond = F.lit(False) if wm is None else ts < F.lit(wm)
        stats = batch.agg(
            F.max(ts).alias("mx"),
            F.sum(late_cond.cast("long")).alias("n_late")).collect()[0]

        kept = batch if wm is None else batch.filter(~late_cond)
        win = (ts - ts % F.lit(self.window_us)).alias("window_start_us")
        parts = kept.groupBy(win, self.group_col).agg(
            F.sum(self.value_col).alias("sum_v"),
            F.count(self.value_col).alias("n_v"),
            F.min(self.value_col).alias("min_v"),
            F.max(self.value_col).alias("max_v"))
        prior = self.state(spark)
        if prior is not None:
            parts = prior.unionByName(parts)
        merged = parts.groupBy("window_start_us", self.group_col).agg(
            F.sum("sum_v").alias("sum_v"), F.sum("n_v").alias("n_v"),
            F.min("min_v").alias("min_v"), F.max("max_v").alias("max_v"))

        new_wm = wm
        if stats["mx"] is not None:
            cand = int(stats["mx"]) - self.delay_us
            new_wm = cand if wm is None else max(wm, cand)
        self.commit(batch_id, {
            **self.land({"agg": merged}, batch_id),
            "watermark_us": new_wm,
            "n_late_total": meta["n_late_total"]
            + int(stats["n_late"] or 0)})

    def writer(self):
        return self.apply_batch


def _wm_batches(spark, sf_dir: str, n_batches: int = 3):
    """The deterministic late-arrival drive both registry rows share:
    events split into n_batches by event_id % n (so every batch mixes
    early and recent timestamps — later batches carry genuinely-late
    rows), values quantized to exact cents."""
    from postgres_es_cdc_spark.operators.common import events_table

    e = events_table(spark, sf_dir).select(
        "event_id", "ts_us", "event_type",
        F.round(F.col("value") * 100, 0).cast("long").alias("cents"))
    return [e.filter(F.col("event_id") % n_batches == i).drop("event_id")
            for i in range(n_batches)]


def ivm_watermark_rollup(spark, sf_dir: str) -> DataFrame:
    """WatermarkAggSink driven end-to-end as a driver-checkable query:
    fold the events stream into a per-(day-window, event_type) rollup
    through three %3-interleaved batches under a 7-day watermark, then
    return the maintained view. The oracle restates the EXACT watermark
    rule in SQL: per-batch max event time, running max over prior
    batches − delay, rows below it excluded — so what the sink drops,
    the oracle drops, bit-for-bit."""
    import shutil
    import tempfile

    base = tempfile.mkdtemp(prefix="wm_rollup_")
    try:
        sink = WatermarkAggSink(base, group_col="event_type",
                                ts_col="ts_us", value_col="cents")
        for i, b in enumerate(_wm_batches(spark, sf_dir)):
            sink.apply_batch(b, i)
        view = sink.state(spark).localCheckpoint()  # outlive the tmpdir
    finally:
        shutil.rmtree(base, ignore_errors=True)
    return view.select(
        "window_start_us", "event_type",
        F.col("n_v").alias("n_events"), F.col("sum_v").alias("sum_cents"),
        F.col("min_v").alias("min_cents"), F.col("max_v").alias("max_cents"))


_WM_KEPT_SQL = f"""
e AS (
  SELECT event_id, event_type, epoch_us(ts) AS ts_us,
         CAST(round(value*100) AS BIGINT) AS cents,
         event_id % 3 AS b
  FROM events
), bmax AS (
  SELECT b, MAX(ts_us) AS mx FROM e GROUP BY b
), wm AS (
  SELECT b, MAX(mx) OVER (ORDER BY b ROWS BETWEEN UNBOUNDED PRECEDING
                          AND 1 PRECEDING) - {WM_DELAY_US} AS wm_us
  FROM bmax
), flagged AS (
  SELECT e.*, (wm.wm_us IS NOT NULL AND e.ts_us < wm.wm_us) AS late
  FROM e JOIN wm USING (b)
)"""

IVM_WATERMARK_ROLLUP_SQL = f"""
WITH {_WM_KEPT_SQL}
SELECT ts_us - ts_us % {WM_WINDOW_US} AS window_start_us, event_type,
       COUNT(*) AS n_events,
       CAST(SUM(cents) AS BIGINT) AS sum_cents,
       CAST(MIN(cents) AS BIGINT) AS min_cents,
       CAST(MAX(cents) AS BIGINT) AS max_cents
FROM flagged WHERE NOT late
GROUP BY 1, 2
"""


def ivm_watermark_late_report(spark, sf_dir: str) -> DataFrame:
    """No-silent-drops side channel for the watermark gate: per batch,
    how many rows the watermark admitted vs dropped, and the watermark
    value the batch saw — the numRowsDroppedByWatermark statement of
    Structured Streaming as an auditable table. The per-batch late
    counts sum to the sink's committed n_late_total (pinned by the
    stream==batch test).

    Scale shape: the batch-max table is |batches| rows; the flag is a
    scan-side comparison against a 3-row broadcast."""
    from pyspark.sql import Window

    batches = _wm_batches(spark, sf_dir)
    flagged = None
    for i, b in enumerate(batches):
        flagged = b.withColumn("b", F.lit(i)) if flagged is None \
            else flagged.unionByName(b.withColumn("b", F.lit(i)))
    bmax = flagged.groupBy("b").agg(F.max("ts_us").alias("mx"))
    w = (Window.orderBy("b")
         .rowsBetween(Window.unboundedPreceding, -1))
    wm = bmax.withColumn("wm_us", F.max("mx").over(w) - F.lit(WM_DELAY_US))
    j = flagged.join(F.broadcast(wm.select("b", "wm_us")), "b")
    late = (F.col("wm_us").isNotNull()
            & (F.col("ts_us") < F.col("wm_us")))
    return (j.groupBy("b")
             .agg(F.sum(late.cast("long")).alias("n_late"),
                  F.sum((~late).cast("long")).alias("n_kept"),
                  F.max("wm_us").alias("watermark_us"))
             .select(F.col("b").alias("batch"), "n_late", "n_kept",
                     "watermark_us"))


IVM_WATERMARK_LATE_SQL = f"""
WITH {_WM_KEPT_SQL}
SELECT f.b AS batch,
       CAST(SUM(CASE WHEN f.late THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
       CAST(SUM(CASE WHEN f.late THEN 0 ELSE 1 END) AS BIGINT) AS n_kept,
       MAX(wm.wm_us) AS watermark_us
FROM flagged f JOIN wm ON f.b = wm.b
GROUP BY 1
"""


class TopKSink:
    """foreachBatch sink maintaining per-group TOP-K by a sort key —
    the order-statistics member of the IVM family next to AggSink's
    sum/count/min/max. Top-k under a total order is an associative,
    commutative, idempotent merge (the k-bounded max-semilattice over
    row SETS — the tie column must identify rows uniquely), so batch
    boundaries and replays provably cannot change the maintained view:
    merge(state, batch) = topk(state ∪ batch).

    Scale shape: each micro-batch contributes at most k rows per group
    (a WindowGroupLimit-bounded partial top-k, map-side prunable), the
    merge re-ranks |groups|·2k rows — per-batch cost O(batch + groups·k),
    independent of history length."""

    def __init__(self, path: str, group_col: str, order_col: str,
                 tie_col: str, k: int):
        self.path = path
        self.group_col = group_col
        self.order_col = order_col
        self.tie_col = tie_col
        self.k = k
        self._st = SnapshotStore(path)

    def _topk(self, df: DataFrame) -> DataFrame:
        # The semilattice is over SETS keyed by (group, tie): a replayed
        # duplicate row must collapse with its original BEFORE ranking,
        # or it occupies a top-k slot and evicts a legitimate row (found
        # by the replay test). dropDuplicates keeps one arbitrary row
        # per key — rows sharing (group, tie) are identical by the tie
        # column's row-identity contract.
        w = WindowSpec_topk(self.group_col, self.order_col, self.tie_col)
        return (df.dropDuplicates([self.group_col, self.tie_col])
                  .withColumn("_rn", F.row_number().over(w))
                  .filter(F.col("_rn") <= self.k).drop("_rn"))

    def apply_batch(self, batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        if self._st.applied(batch_id):
            return          # merge is idempotent, but skipping is free
        parts = self._topk(batch)
        prior = self._st.state(spark)
        if prior is not None:
            parts = prior.unionByName(parts)
        self._st.replace(self._topk(parts), batch_id)

    def state(self, spark) -> DataFrame | None:
        return self._st.state(spark)

    def writer(self):
        return self.apply_batch


def WindowSpec_topk(group_col: str, order_col: str, tie_col: str):
    from pyspark.sql import Window
    return (Window.partitionBy(group_col)
                  .orderBy(F.desc(order_col), F.asc(tie_col)))


SESSION_GAP_US = 1_800_000_000  # 30-minute inactivity gap


class SessionSink(VersionedStore):
    """foreachBatch sink maintaining per-key GAP-MERGED SESSIONS — the
    session-window member of the IVM family (AggSink: totals; TopKSink:
    order statistics; WatermarkAggSink: tumbling event-time windows;
    THIS: data-driven windows that MERGE as late points bridge them).

    The merge algebra is the interval-set semilattice: collapsing
    points to [min,max] intervals preserves every gap boundary, so
    sessionize(A ∪ B) == sessionize(sessionize(A) ∪ sessionize(B)) —
    batch order cannot change the final session set, and a point
    arriving between two existing sessions correctly FUSES them (their
    counts add). Event counts ride the intervals as summed weights.

    Durability and replay: the sink is a VersionedStore — state frame
    + applied batch id repoint in one commit, so a crash keeps the
    prior state and a committed batch's replay is a no-op (counts are not idempotent under
    re-union once points are collapsed, so exactly-once comes from the
    batch-id gate, not from the algebra).

    Scale shape: per batch, one key-partitioned window sessionizes the
    batch's points (map-side groupable after the first shuffle), then
    the state's |open sessions| rows re-merge under the same window —
    per-batch cost O(batch + sessions), history never re-read."""

    def __init__(self, base_dir: str, key_col: str, ts_col: str,
                 gap_us: int = SESSION_GAP_US):
        super().__init__(os.path.join(base_dir, "_session_manifest.json"),
                         {"sess": None, "last_batch_id": -1})
        self.base_dir = base_dir
        self.key_col = key_col
        self.ts_col = ts_col
        self.gap_us = gap_us

    def state(self, spark) -> DataFrame | None:
        return self.read(spark, "sess")

    def _sessionize(self, iv: DataFrame) -> DataFrame:
        """Gap-merge an interval frame (key, start_us, end_us, n):
        intervals whose start lies within gap of the running max end
        fuse. One key-partitioned window Exchange carries both the
        running-max and the running-sum (same partition/order spec)."""
        from pyspark.sql import Window
        w = Window.partitionBy(self.key_col).orderBy("start_us", "end_us")
        prev_end = F.max("end_us").over(
            w.rowsBetween(Window.unboundedPreceding, -1))
        new_flag = F.when(
            prev_end.isNull()
            | (F.col("start_us") > prev_end + self.gap_us), 1).otherwise(0)
        sid = F.sum(new_flag).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        return (iv.withColumn("_sid", sid)
                  .groupBy(self.key_col, "_sid")
                  .agg(F.min("start_us").alias("start_us"),
                       F.max("end_us").alias("end_us"),
                       F.sum("n").alias("n"))
                  .drop("_sid"))

    def apply_batch(self, batch: DataFrame, batch_id: int) -> None:
        if self.applied(batch_id):
            return                      # committed replay: no-op
        spark = batch.sparkSession
        pts = batch.select(
            self.key_col,
            F.col(self.ts_col).alias("start_us"),
            F.col(self.ts_col).alias("end_us"),
            F.lit(1).cast("long").alias("n"))
        parts = self._sessionize(pts)
        prior = self.state(spark)
        if prior is not None:
            parts = prior.unionByName(parts)
        merged = self._sessionize(parts)
        self.commit(batch_id, self.land({"sess": merged}, batch_id))

    def writer(self):
        return self.apply_batch


def ivm_session_rollup(spark, sf_dir: str) -> DataFrame:
    """SessionSink driven end-to-end as a driver-checkable query: fold
    the events stream into per-user 30-min-gap sessions through three
    %3-interleaved batches (so most sessions are SPLIT across batches
    and must fuse on merge — the hard path), then return the maintained
    session set. Oracle: the one-shot lag/cumsum sessionization
    (events_session's construction) — equal by the interval-semilattice
    argument, proven on real data every round."""
    import shutil
    import tempfile

    from postgres_es_cdc_spark.operators.common import events_table

    e = events_table(spark, sf_dir).select("event_id", "user_id", "ts_us")
    base = tempfile.mkdtemp(prefix="sess_rollup_")
    try:
        sink = SessionSink(base, key_col="user_id", ts_col="ts_us")
        for i in range(3):
            sink.apply_batch(
                e.filter(F.col("event_id") % 3 == i).drop("event_id"), i)
        view = sink.state(spark).localCheckpoint()
    finally:
        shutil.rmtree(base, ignore_errors=True)
    return view.select("user_id",
                       F.col("start_us").alias("session_start_us"),
                       F.col("end_us").alias("session_end_us"),
                       F.col("n").alias("n_events"))


IVM_SESSION_ROLLUP_SQL = f"""
WITH flagged AS (
  SELECT user_id, epoch_us(ts) AS ts_us,
         CASE WHEN epoch_us(ts) - LAG(epoch_us(ts))
              OVER (PARTITION BY user_id ORDER BY epoch_us(ts))
              > {SESSION_GAP_US}
              THEN 1 ELSE 0 END AS new_sess
  FROM events
), sessions AS (
  SELECT user_id, ts_us,
         CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts_us
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS sess_id
  FROM flagged
)
SELECT user_id,
       MIN(ts_us) AS session_start_us,
       MAX(ts_us) AS session_end_us,
       COUNT(*) AS n_events
FROM sessions GROUP BY user_id, sess_id
"""


def ivm_topk_orders_by_segment(spark, sf_dir: str, k: int = 3) -> DataFrame:
    """TopKSink's merge algebra exposed as a driver-checkable query:
    maintain the top-k orders by value per market segment through three
    incremental batches (batch i = o_orderkey % 3 == i) and return the
    final view with ranks. The oracle is the one-shot per-segment
    top-k — equal by the semilattice argument above, which this row
    proves on real data every round."""
    from postgres_es_cdc_spark.catalog import table

    c = table(spark, sf_dir, "customer").select(
        F.col("c_custkey"), F.col("c_mktsegment").alias("segment"))
    base = (table(spark, sf_dir, "orders")
            .join(c, F.col("o_custkey") == F.col("c_custkey"))
            .select("segment", "o_orderkey",
                    F.round(F.col("o_totalprice") * 100, 0).cast("long")
                     .alias("cents")))
    sink = TopKSink(path="", group_col="segment", order_col="cents",
                    tie_col="o_orderkey", k=k)
    view: DataFrame | None = None
    for i in range(3):
        part = sink._topk(base.filter(F.col("o_orderkey") % 3 == i))
        view = part if view is None else sink._topk(view.unionByName(part))
    w = WindowSpec_topk("segment", "cents", "o_orderkey")
    return (view.withColumn("rank", F.row_number().over(w))
                .select("segment", "rank",
                        F.col("o_orderkey").alias("orderkey"), "cents"))


IVM_TOPK_SEGMENT_SQL = """
WITH base AS (
  SELECT c.c_mktsegment AS segment, o.o_orderkey,
         CAST(round(o.o_totalprice * 100) AS BIGINT) AS cents
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
)
SELECT segment, rank, o_orderkey AS orderkey, cents
FROM (SELECT segment, o_orderkey, cents,
             ROW_NUMBER() OVER (PARTITION BY segment
                                ORDER BY cents DESC, o_orderkey ASC)
               AS rank
      FROM base)
WHERE rank <= 3
"""


class JoinSink(VersionedStore):
    """foreachBatch sink maintaining an inner equi-JOIN view
    incrementally — the two-input member of the IVM family (AggSink:
    keyed totals; TopKSink: order statistics; WatermarkAggSink: windowed
    lateness; SessionSink: gap merge; THIS: stream-stream join).

    Classic delta-join maintenance: with accumulated sides L, R and a
    batch carrying deltas dL, dR,

        d(L join R) = dL join R  UNION ALL  L join dR
                      UNION ALL  dL join dR

    because inner join distributes over union and every output row is
    produced exactly once — by the batch in which its LATER input
    arrives. The view is therefore batch-boundary-invariant (pinned by
    the permutation property test), matching the one-shot join a
    from-scratch rebuild would compute.

    Input shape: ONE stream carrying both tables tagged by a ``side``
    column — exactly the reference's WAL stream, which interleaves every
    published table's changes in commit order (producer.go:36-60 opens
    one slot for the whole publication, utils.go:49 one topic partition; SURVEY §2 A17's dispatch loop
    demultiplexes). A Spark foreachBatch sees that multiplexed batch and
    splits it here.

    Durability: all three state stores (left, right, view) are
    APPEND-ONLY delta logs of the sink's VersionedStore
    (streaming/store.py), each under its own base dir
    (``<base_dir>/left``, ``/right``, ``/view``) — per batch the store
    lands one ``b<batch_id>`` dir per log and its one ``append``
    commits them together with the batch id. A crash before commit
    leaves orphan dirs the manifest never references (harmless, and
    the retry overwrites them); a checkpoint replay of a committed
    batch id is a no-op. No state dir is ever rewritten, so per-batch
    cost is O(|delta| + matched output) in ROWS, independent of history
    length — the property that makes this an IVM operator rather than a
    re-join. State grows with retained keys, not stream length;
    bounding retention is WatermarkAggSink's gate composed upstream.

    Compaction: per-batch cost in rows is history-free, but the LOG is
    one dir per store per batch forever — listing + parquet-footer
    overhead grows O(entries) with uptime (measured 1.75 → 2.63 s/probe
    at 10× history, SCALE.md round 8). ``compact_after=N`` folds the
    logs through the store's one delta-log fold (``compact``, the
    minor/major rule of streaming/store.py) whenever ``append`` leaves
    a log above N entries, so no log holds more than N + 1 dirs after
    a fold. Every store is an append-only bag, so the fold is a
    bag-union rewrite that leaves the view unchanged (pinned by the
    compact-mid-stream == uncompacted equivalence test).
    """

    def __init__(self, base_dir: str, key_col: str,
                 left_cols: list | None = None,
                 right_cols: list | None = None,
                 side_col: str = "side",
                 left_tag: str = "L", right_tag: str = "R",
                 compact_after: int | None = None):
        # left_cols / right_cols: each side's payload columns within the
        # multiplexed batch (disjoint; the other side carries them as
        # null padding). None = no payload beyond the key.
        # compact_after: fold the delta logs once one exceeds this many
        # entries (None = never; consumer may still call compact()).
        super().__init__(os.path.join(base_dir, "_join_manifest.json"),
                         {}, {s: os.path.join(base_dir, s)
                              for s in ("left", "right", "view")},
                         compact_after)
        self.key_col = key_col
        self.left_cols = list(left_cols or [])
        self.right_cols = list(right_cols or [])
        self.side_col = side_col
        self.left_tag = left_tag
        self.right_tag = right_tag

    def state_view(self, spark) -> DataFrame | None:
        return self._read_log(spark, "view", self.meta()["view"])

    def apply_batch(self, batch: DataFrame, batch_id: int) -> None:
        if self.applied(batch_id):
            return                      # committed replay: no-op
        spark = batch.sparkSession
        meta = self.meta()
        side = F.col(self.side_col)
        # Land the two deltas first (one land, so the independent
        # writes run concurrently), then re-read them from their own
        # files: the view write's plan scans two tiny parquet dirs
        # instead of re-computing each delta from the base tables. A
        # side with no rows still reads back: Spark writes partition
        # 0's file even when it is empty, and the file carries the
        # schema.
        dirs = self.land({
            "left": batch.filter(side == self.left_tag).select(
                self.key_col, *self.left_cols),
            "right": batch.filter(side == self.right_tag).select(
                self.key_col, *self.right_cols)}, batch_id)
        dl, dr = (self._read_log(spark, s, [dirs[s]])
                  for s in ("left", "right"))
        old_l = self._read_log(spark, "left", meta["left"])
        old_r = self._read_log(spark, "right", meta["right"])
        k = self.key_col
        d_view = dl.join(dr, k)
        if old_r is not None:
            d_view = d_view.unionByName(dl.join(old_r, k))
        if old_l is not None:
            d_view = d_view.unionByName(old_l.join(dr, k))
        self.append(spark, batch_id,
                    dirs | self.land({"view": d_view}, batch_id))

    def writer(self):
        return self.apply_batch


def ivm_join_view_rollup(spark, sf_dir: str) -> DataFrame:
    """JoinSink driven end-to-end as a driver-checkable query: maintain
    the orders-x-lineitem join view through three multiplexed batches in
    which an order and its lineitems arrive in DIFFERENT batches
    (orders: o_orderkey % 3 == i; lineitems: (l_orderkey +
    l_linenumber) % 3 == i — so a single order's items straddle all
    three batches and most join rows are produced by the cross-batch
    terms dL-join-R / L-join-dR, the part a re-join-per-batch engine
    gets for free and an IVM engine must prove). The maintained view is
    then rolled up per order priority; the oracle is the one-shot join
    + GROUP BY, equal by the delta-join distributivity argument in the
    class docstring.

    Exactness: join keys and cents are integers; counts are exact; no
    floats anywhere."""
    import shutil
    import tempfile

    from postgres_es_cdc_spark.catalog import table

    orders = table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderpriority").alias("priority"))
    items = table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("k"), F.col("l_linenumber").alias("ln"),
        F.round(F.col("l_extendedprice") * 100, 0).cast("long")
         .alias("price_cents"))

    base = tempfile.mkdtemp(prefix="join_ivm_")
    try:
        sink = JoinSink(base, key_col="k", left_cols=["priority"],
                        right_cols=["ln", "price_cents"])
        for i in range(3):
            b = (orders.filter(F.col("k") % 3 == i)
                 .select("k", F.lit("L").alias("side"), "priority",
                         F.lit(None).cast("int").alias("ln"),
                         F.lit(None).cast("long").alias("price_cents"))
                 .unionByName(
                     items.filter((F.col("k") + F.col("ln")) % 3 == i)
                     .select("k", F.lit("R").alias("side"),
                             F.lit(None).cast("string").alias("priority"),
                             "ln", "price_cents")))
            sink.apply_batch(b, i)
        view = sink.state_view(spark)
        out = (view.groupBy("priority")
                   .agg(F.count(F.lit(1)).alias("n_items"),
                        F.countDistinct("k").alias("n_orders"),
                        F.sum("price_cents").alias("sum_price_cents"))
                   .localCheckpoint())      # outlive the tmpdir
    finally:
        shutil.rmtree(base, ignore_errors=True)
    return out


IVM_JOIN_VIEW_SQL = """
SELECT o.o_orderpriority AS priority,
       COUNT(*) AS n_items,
       COUNT(DISTINCT o.o_orderkey) AS n_orders,
       CAST(SUM(CAST(round(l.l_extendedprice * 100) AS BIGINT)) AS BIGINT)
         AS sum_price_cents
FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
GROUP BY 1
"""


def ivm_join_view_compacted_rollup(spark, sf_dir: str) -> DataFrame:
    """ivm_join_view_rollup's fold with delta-log COMPACTION firing
    mid-stream (compact_after=1: the store's fold runs whenever a log
    holds more than one entry, plus vacuum reclaiming tombstones
    between batches) — proving on real data that compaction + vacuum
    preserve the maintained view exactly. The oracle is the SAME
    one-shot join + GROUP BY: compaction is a bag-union rewrite of
    append-only stores, so the view is unchanged by construction
    (JoinSink docstring, Compaction); this row is the oracle-checked
    witness.

    Scale shape: this is the operational fix for the one unbounded
    resource in the delta-log design — manifest entries (and with them
    listing + parquet-footer costs) grow O(batches) with uptime without
    it, stay ≤ compact_after+1 with it."""
    import shutil
    import tempfile

    from postgres_es_cdc_spark.catalog import table

    orders = table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderpriority").alias("priority"))
    items = table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("k"), F.col("l_linenumber").alias("ln"),
        F.round(F.col("l_extendedprice") * 100, 0).cast("long")
         .alias("price_cents"))

    base = tempfile.mkdtemp(prefix="join_ivm_c_")
    try:
        sink = JoinSink(base, key_col="k", left_cols=["priority"],
                        right_cols=["ln", "price_cents"],
                        compact_after=1)
        for i in range(3):
            b = (orders.filter(F.col("k") % 3 == i)
                 .select("k", F.lit("L").alias("side"), "priority",
                         F.lit(None).cast("int").alias("ln"),
                         F.lit(None).cast("long").alias("price_cents"))
                 .unionByName(
                     items.filter((F.col("k") + F.col("ln")) % 3 == i)
                     .select("k", F.lit("R").alias("side"),
                             F.lit(None).cast("string").alias("priority"),
                             "ln", "price_cents")))
            sink.apply_batch(b, i)
            sink.vacuum()
        m = sink.meta()
        assert max(len(m[s]) for s in ("left", "right", "view")) <= 2, \
            "compaction failed to bound the delta log"
        view = sink.state_view(spark)
        out = (view.groupBy("priority")
                   .agg(F.count(F.lit(1)).alias("n_items"),
                        F.countDistinct("k").alias("n_orders"),
                        F.sum("price_cents").alias("sum_price_cents"))
                   .localCheckpoint())      # outlive the tmpdir
    finally:
        shutil.rmtree(base, ignore_errors=True)
    return out


class HLLSink:
    """foreachBatch sink maintaining a PORTABLE HyperLogLog sketch per
    group — the approximate member of the IVM family. State is the
    sparse register table (group, bucket, m): a max-semilattice, so
    merging a batch is the same groupBy-max as building from scratch —
    batch boundaries provably cannot change the registers (associative,
    commutative, idempotent), and replay de-dup comes free of charge
    from idempotence on top of the batch-id no-op guard.

    Registers are plain integers (operators/analytics.py:hll_registers)
    — unlike built-in HLL++ state they can be stored, shipped, and
    re-merged by ANY engine, which is the point of keeping sketch
    tables in a warehouse.

    Scale shape: per batch one map-side partial-max row per
    (group, bucket) — the exchange carries at most |groups|·256
    registers, never keys; state size is |groups|·256 regardless of
    stream length."""

    def __init__(self, path: str, group_col: str, key_col: str):
        self.path = path
        self.group_col = group_col
        self.key_col = key_col
        self._st = SnapshotStore(path)

    def apply_batch(self, batch: DataFrame, batch_id: int) -> None:
        from postgres_es_cdc_spark.operators.analytics import hll_registers

        spark = batch.sparkSession
        if self._st.applied(batch_id):
            return          # max-merge is idempotent; skipping is free
        regs = hll_registers(batch, self.group_col, self.key_col)
        prior = self._st.state(spark)
        if prior is not None:
            regs = prior.unionByName(regs)
        self._st.replace(regs.groupBy(self.group_col, "bucket").agg(
            F.max("m").alias("m")), batch_id)

    def state(self, spark) -> DataFrame | None:
        return self._st.state(spark)

    def estimate(self, spark) -> DataFrame:
        from postgres_es_cdc_spark.operators.analytics import (
            hll_estimate_from_registers)

        return hll_estimate_from_registers(
            self._st.state(spark), self.group_col)

    def writer(self):
        return self.apply_batch


def ivm_hll_rollup(spark, sf_dir: str) -> DataFrame:
    """HLLSink's register algebra exposed as a driver-checkable query:
    fold the events stream's distinct-user sketch per event type through
    three %3-interleaved batches via per-batch partial registers +
    max-merge — the exact per-micro-batch code path — and return the
    estimate of the maintained sketch. The oracle is the ONE-SHOT
    sketch (analytics.IVM_HLL_SQL): equal because max is associative,
    commutative, and idempotent, which this row proves on real data
    every round."""
    from postgres_es_cdc_spark.operators.analytics import (
        hll_estimate_from_registers, hll_registers)

    e = (spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
              .select("event_id", "event_type", "user_id"))
    regs: DataFrame | None = None
    for i in range(3):
        part = hll_registers(
            e.filter(F.col("event_id") % 3 == i).drop("event_id"),
            "event_type", "user_id")
        regs = part if regs is None else (
            regs.unionByName(part).groupBy("event_type", "bucket")
                .agg(F.max("m").alias("m")))
    return hll_estimate_from_registers(regs, "event_type").select(
        "event_type", "n_zero_buckets", "sum_q", "raw_estimate",
        "hll_estimate")


class QSketchSink:
    """foreachBatch sink maintaining the portable QUANTILE sketch per
    group (operators/analytics.py:qsketch_registers) — log2-histogram
    count registers keyed (group, bucket). Counts merge by SUM: an
    associative+commutative fold, so batch boundaries provably cannot
    change the registers — but unlike the HLL's max-merge SUM is NOT
    idempotent, so replay protection is explicit: the SnapshotStore
    manifest commits the last-applied batch id atomically WITH the
    state repoint, making a redelivered micro-batch a no-op (the
    AggSink-family discipline).

    Scale shape: per batch one map-side partial-count row per
    (group, bucket); the exchange and the state both carry
    O(|groups| × ~1000) integer rows regardless of stream length."""

    def __init__(self, path: str, group_col: str, value_col: str):
        self.path = path
        self.group_col = group_col
        self.value_col = value_col
        self._st = SnapshotStore(path)

    def apply_batch(self, batch: DataFrame, batch_id: int) -> None:
        from postgres_es_cdc_spark.operators.analytics import (
            qsketch_registers)

        if self._st.applied(batch_id):
            return  # replayed batch: counts must not double
        spark = batch.sparkSession
        regs = qsketch_registers(batch, self.group_col, self.value_col)
        prior = self._st.state(spark)
        if prior is not None:
            regs = prior.unionByName(regs)
        self._st.replace(regs.groupBy(self.group_col, "bucket").agg(
            F.sum("cnt").alias("cnt")), batch_id)

    def registers(self, spark) -> DataFrame:
        return self._st.state(spark)

    def writer(self):
        return self.apply_batch


def ivm_qsketch_rollup(spark, sf_dir: str) -> DataFrame:
    """QSketchSink's register algebra exposed as a driver-checkable
    query: fold the events stream's value-histogram sketch (integer
    cents through the portable log2/16 bucket map) per event type
    through three %3-interleaved batches via per-batch partial counts +
    sum-merge — the exact per-micro-batch code path — and return the
    maintained REGISTERS themselves. The oracle is the one-shot
    register table: equal because counts are associative+commutative
    under sum, which this row proves on real data every round (replay
    idempotence is the sink's batch-id guard, pinned in its test —
    sum alone cannot provide it)."""
    from postgres_es_cdc_spark.operators.analytics import (
        qsketch_registers)

    e = (spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
              .select("event_id", "event_type",
                      F.round(F.col("value") * 100, 0).cast("long")
                       .alias("cents")))
    regs: DataFrame | None = None
    for i in range(3):
        part = qsketch_registers(
            e.filter(F.col("event_id") % 3 == i).drop("event_id"),
            "event_type", "cents")
        regs = part if regs is None else (
            regs.unionByName(part).groupBy("event_type", "bucket")
                .agg(F.sum("cnt").alias("cnt")))
    return regs.select("event_type", "bucket", F.col("cnt").cast("long")
                       .alias("cnt"))
