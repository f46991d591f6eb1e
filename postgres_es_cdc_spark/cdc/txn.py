"""Transaction bracketing for the CDC fold.

pgoutput brackets every transaction's changes between Begin and Commit
messages; the reference silently DISCARDS both (producer.go:163-164),
so its sink can expose half-applied transactions — a consumer reading
Elasticsearch mid-transaction sees some of a transaction's rows updated
and others not, and a crash between events of one transaction leaves
that torn state permanently. Here transactions are first-class:

  * events may carry a ``txn_id`` column (null = autocommit, applied
    unconditionally — the reference's only mode);
  * ``COMMIT`` marker events declare a transaction durable;
  * ``tag_committed`` marks each data event committed or not with one
    left join to the commit ids; ``committed_events`` keeps the
    committed ones — the batch building block, for inputs whose
    history (and so whose commit set) is unbounded;
  * ``TxnUpsertSink`` applies a stream at transaction granularity: data
    events of transactions without a COMMIT yet are parked in a pending
    buffer instead of the sink, so after ANY micro-batch boundary (or a
    crash between batches) the materialized state sits exactly at the
    last committed transaction boundary — never inside a transaction.
    A micro-batch's commit set is bounded by the trigger, so the sink
    takes it as a driver-side set — from the WAL control plane, which
    already walked the batch's Begin/Commit messages, or from one
    collect of an envelope batch's COMMIT markers — and tags rows with
    an ``IN`` filter instead of a join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from postgres_es_cdc_spark.streaming.pipeline import UpsertSink

OP_BEGIN = "BEGIN"    # producer.go:163 (dropped there, honored here)
OP_COMMIT = "COMMIT"  # producer.go:164
_MARKER_OPS = (OP_BEGIN, OP_COMMIT)
COMMITTED = "_committed"  # tag_committed's flag column

# Envelope extension: EVENT_SCHEMA + a nullable transaction id.
TXN_EVENT_SCHEMA = (
    "offset long, operationType string, tableName string, payload string, "
    "txn_id long"
)


def commit_ids(events: DataFrame, txn_col: str = "txn_id") -> DataFrame:
    """Distinct transaction ids with a COMMIT marker in ``events``."""
    return (events.filter(F.col("operationType") == OP_COMMIT)
                  .select(txn_col).distinct())


def _data(events: DataFrame) -> DataFrame:
    """The data events: BEGIN/COMMIT markers carry no payload."""
    return events.filter(~F.col("operationType").isin(*_MARKER_OPS))


def tag_committed(events: DataFrame, txn_col: str = "txn_id") -> DataFrame:
    """The data events of ``events`` (BEGIN/COMMIT markers carry no
    payload and are dropped), each with a boolean ``COMMITTED`` column:
    true for autocommit (null txn) and for members of a transaction
    whose COMMIT is in ``events``; false for the ones that must wait
    (their COMMIT may arrive in a later micro-batch). One left join to
    the commit ids — a short list, one row per transaction."""
    commits = commit_ids(events, txn_col).withColumn("_commit", F.lit(True))
    return (_data(events).join(commits, on=txn_col, how="left")
                .select(*events.columns,
                        (F.col(txn_col).isNull()
                         | F.col("_commit").isNotNull()).alias(COMMITTED)))


def committed_events(events: DataFrame,
                     txn_col: str = "txn_id") -> DataFrame:
    """Data events safe to apply: autocommit (null txn) plus members of
    committed transactions."""
    return _committed(tag_committed(events, txn_col), True)


def _committed(tagged: DataFrame, committed: bool) -> DataFrame:
    return tagged.filter(F.col(COMMITTED) == committed).drop(COMMITTED)


def apply_changes_transactional(events: DataFrame,
                                value_schema: StructType,
                                key: str = "id", order_col: str = "offset",
                                txn_col: str = "txn_id") -> DataFrame:
    """Batch fold honoring transaction boundaries: only committed
    transactions (and autocommit events) reach ``apply_changes``; an
    uncommitted tail — e.g. the WAL read stopped mid-transaction — is
    excluded wholesale, so the result always equals the state at a
    transaction boundary."""
    from postgres_es_cdc_spark.cdc.apply import apply_changes

    return apply_changes(committed_events(events, txn_col), value_schema,
                         key=key, order_col=order_col)


class TxnUpsertSink(UpsertSink):
    """UpsertSink that never materializes a partial transaction.

    Per micro-batch: the data rows of (pending buffer ∪ batch) are
    tagged committed when autocommit (null txn) or in the batch's
    commit set, and materialized ONCE; the committed rows fold into
    state via the parent's merge and feed ``_on_committed``, the
    pending ones land as the new buffer — every consumer reads that one
    materialization, so the batch is decoded and split once, however
    many tables and hooks read it. The commit set is a driver-side set
    of xids, bounded by the trigger: WalStreamApply hands over the one
    its control walk collected, and for an envelope batch the sink
    collects the COMMIT markers' ids itself. The buffer holds only
    transactions no earlier batch committed, so this batch's set tags
    it too. The tables, the buffer, the caller's decode ``context`` and
    the batch id commit in ONE VersionedStore repoint, so a transaction
    spanning micro-batches applies atomically in the batch where its
    COMMIT arrives, and a crash at any point of a batch leaves the sink
    — buffer and context included — at the prior transaction
    boundary."""

    PENDING = "_pending_txn"

    def __init__(self, base_dir: str, schemas: dict[str, StructType],
                 key: str = "id", order_col: str = "offset",
                 txn_col: str = "txn_id"):
        super().__init__(base_dir, schemas, key, order_col)
        self.txn_col = txn_col

    def apply_batch(self, batch: DataFrame, batch_id: int,
                    context: dict | None = None,
                    commits: set | None = None) -> None:
        """``context``: what the caller must resume with after a
        restart (WalStreamApply's relation cache and open xid),
        committed with the batch and read back from ``meta()``.
        ``commits``: the xids ``batch`` commits; None collects them
        from its COMMIT markers."""
        if self.applied(batch_id):
            return                      # committed replay: no-op
        spark = batch.sparkSession
        if commits is None:
            commits = {r[0] for r in commit_ids(batch, self.txn_col)
                       .collect()}
        pending_path = self.table_path(self.PENDING)
        events = _data(batch)
        if pending_path:
            events = events.unionByName(
                spark.read.schema(batch.schema).parquet(pending_path))
        txn = F.col(self.txn_col)
        tagged = events.withColumn(
            COMMITTED, txn.isNull() | txn.isin(*sorted(commits - {None}))
        ).localCheckpoint()
        ready = _committed(tagged, True)
        frames = {name: self._merge(spark, name,
                                    ready.filter(F.col("tableName") == name),
                                    batch_id)
                  for name in self.value_schemas}
        # Downstream forwarding hook (e.g. the ES bulk executor): runs
        # AFTER the state merges land and BEFORE the commit, so a crash
        # in between replays the batch — at-least-once with the keyed
        # idempotent request shapes.
        self._on_committed(ready, batch_id)
        # the new buffer lands beside the OLD one, which stays current
        # (and is read by this write) until the commit
        frames.update(self.land({self.PENDING: _committed(tagged, False)},
                                batch_id))
        self.commit(batch_id, {**frames, "context": context})

    def _on_committed(self, ready: DataFrame, batch_id: int) -> None:
        """Per-batch hook over the committed (safe-to-apply) events —
        default no-op; EsForwardingTxnSink renders and executes the ES
        bulk plan here, closing the reference's WAL→ES contract as one
        glued stream (utils.go:103-113 + es.go:47-144)."""
