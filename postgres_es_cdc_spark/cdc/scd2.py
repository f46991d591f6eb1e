"""SCD Type-2 history from the CDC event stream — every version of
every row with ``valid_from`` / ``valid_to`` / ``is_current``.

REF-derived: the reference materializes only the LATEST state per key
(es.go:47-144 — update_by_query mutates in place, delete_by_query
erases history). This operator keeps the full audit trail instead,
folding the same event semantics (putAll partial merge es.go:56,
key-absent = unchanged / key-null = set-null producer.go:186-187,
orphan-update no-op es.go:52 match-nothing, delete-then-reinsert
producer.go:155 + es.go:95-98) into one row PER VERSION:

  * every effective INSERT/UPDATE emits a version row whose non-key
    columns are the merged state as of that event;
  * ``valid_from`` = the event's offset; ``valid_to`` = the offset of
    the next effective event for that key (next version, the DELETE
    that ends it, or the INSERT that resets it) — NULL while current;
  * UPDATEs before any INSERT, or after a DELETE with no re-INSERT,
    match no live document and emit nothing (es.go:52 semantics).

Scale shape: two window passes over the SAME (key-hash) partitioning —
Catalyst plans one Exchange and chains the Window operators, so the
whole history fold costs a single shuffle of the event stream, same as
``apply_changes``. No driver-side iteration, no state store.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from postgres_es_cdc_spark.cdc.envelope import state_as_inserts, typed_events
from postgres_es_cdc_spark.cdc.generate import (
    orders_cdc_events_typed, orders_cdc_value_schema)
from postgres_es_cdc_spark.streaming.store import SnapshotStore


def scd2_history(events: DataFrame, schema: StructType,
                 key: str = "id") -> DataFrame:
    """Fold a typed CDC event stream (offset, operationType,
    payload struct, payload_fields presence array — the shape of
    ``apply_changes_typed``; ``envelope.typed_events`` decodes a JSON
    envelope into it) into SCD2 version history.
    """
    cols = [f.name for f in schema.fields if f.name != key]
    op = F.col("operationType")
    ev = events.select(
        "offset", "operationType",
        F.col(f"payload.{key}").alias(key),
        *[F.col(f"payload.{c}").alias(f"v_{c}") for c in cols],
        *[F.array_contains("payload_fields", c).alias(f"p_{c}")
          for c in cols],
    )

    # Epoch = how many INSERTs this key has seen up to and including
    # this event; a new INSERT resets merge state (fresh document,
    # es.go:95-98). deleted_before counts DELETEs strictly earlier in
    # the SAME epoch: any non-INSERT event after one targets a document
    # that no longer exists and is a no-op.
    w_cum = (Window.partitionBy(key).orderBy("offset")
                   .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    ev = ev.withColumn(
        "epoch",
        F.sum(F.when(op == "INSERT", 1).otherwise(0)).over(w_cum))
    w_ep = (Window.partitionBy(key, "epoch").orderBy("offset")
                  .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    del_before = (F.sum(F.when(op == "DELETE", 1).otherwise(0)).over(w_ep)
                  - F.when(op == "DELETE", 1).otherwise(0))
    eff = (ev.withColumn("_dels", del_before)
             .filter((F.col("epoch") >= 1)
                     & ((op == "INSERT") | (F.col("_dels") == 0))))

    # Merged state as of each event: per column, the LAST present cell
    # in this epoch. The cell is wrapped in a struct so that an
    # explicitly-present NULL (key-null = set-null) stays distinct from
    # an absent column (key-absent = unchanged).
    w_fold = (Window.partitionBy(key, "epoch").orderBy("offset")
                    .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    state = [
        F.last(F.when(F.col(f"p_{c}"), F.struct(F.col(f"v_{c}").alias("v"))),
               ignorenulls=True).over(w_fold)["v"].alias(c)
        for c in cols
    ]
    w_next = Window.partitionBy(key).orderBy("offset")
    out = eff.select(
        key, "offset", "operationType", *state,
        F.lead("offset").over(w_next).alias("valid_to"))
    return (out.filter(F.col("operationType") != "DELETE")
               .select(key, *cols,
                       F.col("offset").alias("valid_from"),
                       F.col("valid_to").cast("long").alias("valid_to"),
                       F.col("valid_to").isNull().alias("is_current"),
                       F.col("operationType").alias("version_op")))


def cdc_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 history of the synthesized orders CDC stream
    (cdc/generate.py event plan). The oracle rebuilds the identical
    stream in SQL and folds it with the same window algebra — an
    independent implementation of the same specification."""
    return scd2_history(orders_cdc_events_typed(spark, sf_dir),
                        orders_cdc_value_schema())


CDC_SCD2_SQL = """
WITH ev AS (
  SELECT o_orderkey*10 AS ev_offset, 'INSERT' AS op, o_orderkey AS id,
         TRUE AS p_custkey, o_custkey AS v_custkey,
         TRUE AS p_status, o_orderstatus AS v_status,
         TRUE AS p_totalprice, o_totalprice AS v_totalprice,
         TRUE AS p_priority, o_orderpriority AS v_priority
  FROM orders
  UNION ALL
  SELECT o_orderkey*10+3, 'UPDATE', o_orderkey,
         FALSE, NULL, FALSE, NULL, TRUE, o_totalprice*1.1, FALSE, NULL
  FROM orders WHERE o_orderkey%5=0
  UNION ALL
  SELECT o_orderkey*10+4, 'UPDATE', o_orderkey,
         FALSE, NULL, FALSE, NULL, FALSE, NULL, TRUE, NULL
  FROM orders WHERE o_orderkey%7=0
  UNION ALL
  SELECT o_orderkey*10+5, 'DELETE', o_orderkey,
         FALSE, NULL, FALSE, NULL, FALSE, NULL, FALSE, NULL
  FROM orders WHERE o_orderkey%9=0
  UNION ALL
  SELECT o_orderkey*10+7, 'INSERT', o_orderkey,
         TRUE, o_custkey, TRUE, 'R', TRUE, o_totalprice+1000.0,
         TRUE, o_orderpriority
  FROM orders WHERE o_orderkey%9=0 AND o_orderkey%2=1
  UNION ALL
  SELECT o_orderkey*10+8, 'UPDATE', -o_orderkey,
         FALSE, NULL, TRUE, 'ORPHAN', FALSE, NULL, FALSE, NULL
  FROM orders WHERE o_orderkey%17=0
), e2 AS (
  SELECT *, SUM(CASE WHEN op='INSERT' THEN 1 ELSE 0 END)
              OVER (PARTITION BY id ORDER BY ev_offset
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS epoch
  FROM ev
), e3 AS (
  SELECT *, SUM(CASE WHEN op='DELETE' THEN 1 ELSE 0 END)
              OVER (PARTITION BY id, epoch ORDER BY ev_offset
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            - CASE WHEN op='DELETE' THEN 1 ELSE 0 END AS dels
  FROM e2
), eff AS (
  SELECT * FROM e3 WHERE epoch >= 1 AND (op='INSERT' OR dels=0)
), folded AS (
  SELECT id, ev_offset, op,
    LAST_VALUE(CASE WHEN p_custkey THEN struct_pack(v := v_custkey) END
               IGNORE NULLS) OVER w_ep AS s_custkey,
    LAST_VALUE(CASE WHEN p_status THEN struct_pack(v := v_status) END
               IGNORE NULLS) OVER w_ep AS s_status,
    LAST_VALUE(CASE WHEN p_totalprice THEN struct_pack(v := v_totalprice) END
               IGNORE NULLS) OVER w_ep AS s_totalprice,
    LAST_VALUE(CASE WHEN p_priority THEN struct_pack(v := v_priority) END
               IGNORE NULLS) OVER w_ep AS s_priority,
    LEAD(ev_offset) OVER (PARTITION BY id ORDER BY ev_offset) AS valid_to
  FROM eff
  WINDOW w_ep AS (PARTITION BY id, epoch ORDER BY ev_offset
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT id,
       CAST(s_custkey.v AS BIGINT) AS custkey,
       s_status.v AS status,
       CAST(s_totalprice.v AS DOUBLE) AS totalprice,
       s_priority.v AS priority,
       ev_offset AS valid_from,
       CAST(valid_to AS BIGINT) AS valid_to,
       valid_to IS NULL AS is_current,
       op AS version_op
FROM folded
WHERE op <> 'DELETE'
"""


class Scd2Sink:
    """foreachBatch sink maintaining the full SCD2 version history in a
    parquet directory — the audit-trail twin of ``UpsertSink`` (which
    keeps only latest state, like the reference's ES index).

    Incremental fold per micro-batch:
      * closed versions (valid_to set) are immutable — carried through;
      * each CURRENT version re-enters the fold as a typed full-row
        INSERT at its own valid_from (``envelope.state_as_inserts``, the
        helper ``UpsertSink`` shares: all fields present, so merged
        nulls stay explicit); new events — decoded once by
        ``envelope.typed_events`` — stack on top, closing /
        resetting it as scd2_history dictates; the original version_op
        is restored afterward;
      * replay safety: batch events at or below a key's high-water
        offset — max(coalesce(valid_to, valid_from)) over its history —
        were already folded and are dropped, so redelivered triggers
        are idempotent (the at-least-once gap the reference suffers,
        utils.go:49 + es.go:95-98);
      * a key whose history ends closed (deleted) contributes no
        synthetic INSERT, so late UPDATEs stay orphan no-ops.

    Commit: the history is the one frame of a SnapshotStore — each
    batch lands a new version dir and repoints the manifest, so a
    failed write leaves the prior history current and whole (an
    in-place overwrite deletes it before the job runs), and a
    committed batch id is a no-op.

    Scale: the per-batch fold shuffles only the micro-batch plus one
    synthetic row per LIVE key; closed history is append-only (with a
    table format it'd be a partition append, not a rewrite).
    """

    def __init__(self, path: str, schema: StructType, key: str = "id"):
        self._base = path
        self._st = SnapshotStore(path)
        self.schema = schema
        self.key = key

    @property
    def path(self) -> str:
        """The committed history dir (``path`` itself before the first
        commit)."""
        return self._st.meta()[self._st.frame] or self._base

    def apply_batch(self, batch: DataFrame, batch_id: int) -> None:
        if self._st.applied(batch_id):
            return                      # committed replay: no-op
        spark = batch.sparkSession
        key, schema = self.key, self.schema
        ev = typed_events(batch, schema).withColumn(
            "_k", F.col(f"payload.{key}"))

        closed = current = None
        hist = self._st.state(spark)
        if hist is not None:
            high = (hist.groupBy(key)
                        .agg(F.max(F.coalesce("valid_to", "valid_from"))
                              .alias("_hw"))
                        .withColumnRenamed(key, "_k"))
            ev = (ev.join(high, "_k", "left")
                    .filter(F.col("_hw").isNull()
                            | (F.col("offset") > F.col("_hw")))
                    .drop("_hw"))
            closed = hist.filter(F.col("valid_to").isNotNull())
            current = hist.filter(F.col("valid_to").isNull())
            synth = state_as_inserts(current, schema, "valid_from")
            fold_in = synth.unionByName(ev.drop("_k"))
        else:
            fold_in = ev.drop("_k")

        versions = scd2_history(fold_in, schema, key)
        if current is not None:
            orig = current.select(key, "valid_from",
                                  F.col("version_op").alias("_orig_op"))
            versions = (versions.join(orig, [key, "valid_from"], "left")
                        .withColumn("version_op",
                                    F.coalesce("_orig_op", "version_op"))
                        .drop("_orig_op"))
        new_hist = (closed.unionByName(versions)
                    if closed is not None else versions)

        self._st.replace(new_hist, batch_id)

    def writer(self):
        return self.apply_batch


def state_asof(history: DataFrame, offset: int) -> DataFrame:
    """Time-travel over SCD2 history: the table state as of ``offset``
    (versions live at that point — valid_from <= T < valid_to). The
    capability the reference's in-place ES mutation destroys
    (update_by_query es.go:47-86 leaves no way back); with history kept,
    any past state is one predicate away — no shuffle, prunable."""
    return (history.filter((F.col("valid_from") <= offset)
                           & (F.col("valid_to").isNull()
                              | (F.col("valid_to") > offset)))
                   .drop("valid_to", "is_current", "version_op"))


def cdc_state_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders-CDC state as of the stream's midpoint offset (half the
    key space has inserted; updates/deletes above the midpoint key have
    not happened yet). Oracle = the same slice of the SQL-folded
    history."""
    from postgres_es_cdc_spark.catalog import table

    o_max = table(spark, sf_dir, "orders").agg(
        F.max("o_orderkey")).first()[0]
    hist = scd2_history(orders_cdc_events_typed(spark, sf_dir),
                        orders_cdc_value_schema())
    return state_asof(hist, o_max * 5)


CDC_STATE_ASOF_SQL = (
    "WITH hist AS (" + CDC_SCD2_SQL + ")\n"
    "SELECT id, custkey, status, totalprice, priority, valid_from\n"
    "FROM hist\n"
    "WHERE valid_from <= (SELECT MAX(o_orderkey)*5 FROM orders)\n"
    "  AND (valid_to IS NULL\n"
    "       OR valid_to > (SELECT MAX(o_orderkey)*5 FROM orders))\n"
)
