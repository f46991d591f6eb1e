"""Seeded input generators for the benchmark, each with its own
independent Python model of the expected result.

Nothing here imports Spark: the inputs are plain bytes / parquet files
written with pyarrow, and the models are sequential dict folds written
from the change-event semantics (insert replaces the document, update
merges the columns it carries, delete drops the key, an update or
delete of a missing key is a no-op), not from the engine's code.

* ``WalGen``      — pgoutput protocol-v1 WAL segments for two tables.
* ``envelope_log`` — one JSON envelope change log for ``apply_changes``.
* ``corpus``      — a document corpus with planted near-copies.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from postgres_es_cdc_spark.sources.pgoutput import (
    UNCHANGED, encode_begin, encode_commit, encode_delete, encode_insert,
    encode_relation, encode_update)

# ---------------------------------------------------------------------------
# WAL segments
# ---------------------------------------------------------------------------

# table -> (relation oid, columns, DDL); the last column of each table is
# the large "TOAST" text that updates usually leave unchanged ('u').
WAL_TABLES = {
    "accounts": (16401, ["id", "owner", "balance", "tier", "profile"],
                 "id long, owner string, balance long, tier string, "
                 "profile string"),
    "orders": (16402, ["id", "account_id", "status", "amount", "notes"],
               "id long, account_id long, status string, amount long, "
               "notes string"),
}
_TIERS = ("free", "pro", "team", "enterprise")
_STATUSES = ("new", "paid", "shipped", "returned", "closed")
_WORDS = tuple(f"w{i:03d}" for i in range(400))


def _text(rng: np.random.Generator, lo: int, hi: int) -> str:
    n = int(rng.integers(lo, hi))
    return " ".join(_WORDS[i] for i in rng.integers(0, len(_WORDS), n))


class WalGen:
    """Sequential transactions (pgoutput sends each transaction whole,
    at commit, so transactions never interleave) cut into fixed-size
    segments regardless of transaction boundaries, so some transactions
    span segments and the last fed segment usually ends inside one (an
    uncommitted tail). Operation mix ~60/30/10 insert/update/delete;
    updates and deletes hit live keys chosen Zipf-hot; updates are
    sparse (the TOAST column is mostly 'u', one column is sometimes set
    to an explicit null)."""

    def __init__(self, seed: int, msgs_per_segment: int):
        self.rng = np.random.default_rng([seed, 1])
        self.msgs_per_segment = msgs_per_segment
        self.offset = 0
        self.xid = 1000
        self.next_id = {t: 1 for t in WAL_TABLES}
        self.live = {t: [] for t in WAL_TABLES}      # live ids, any order
        self.pos = {t: {} for t in WAL_TABLES}       # id -> index in live
        self.docs = {t: {} for t in WAL_TABLES}      # generator-side state
        self._pending: list = []                     # (msg bytes, op)
        self._first = True

    # -- key choice --------------------------------------------------
    def _add_live(self, t: str, k: int) -> None:
        self.pos[t][k] = len(self.live[t])
        self.live[t].append(k)

    def _drop_live(self, t: str, k: int) -> None:
        i = self.pos[t].pop(k)
        last = self.live[t].pop()
        if last != k:
            self.live[t][i] = last
            self.pos[t][last] = i

    def _hot_key(self, t: str) -> int:
        n = len(self.live[t])
        r = int(self.rng.zipf(1.3)) - 1
        return self.live[t][r % n]

    # -- operations ----------------------------------------------------
    def _row(self, t: str, k: int) -> dict:
        rng = self.rng
        if t == "accounts":
            return {"id": str(k), "owner": f"user_{int(rng.integers(10 ** 6))}",
                    "balance": str(int(rng.integers(-1000, 10 ** 6))),
                    "tier": _TIERS[int(rng.integers(len(_TIERS)))],
                    "profile": _text(rng, 20, 120)}
        acct = self.live["accounts"]
        return {"id": str(k),
                "account_id": str(acct[int(rng.integers(len(acct)))]
                                  if acct else 0),
                "status": _STATUSES[0],
                "amount": str(int(rng.integers(1, 10 ** 5))),
                "notes": _text(rng, 10, 80)}

    def _op(self) -> tuple:
        """One data change: (msg bytes, (table, op, id, values|None))."""
        rng = self.rng
        t = "accounts" if rng.random() < 0.4 else "orders"
        oid, cols, _ = WAL_TABLES[t]
        u = rng.random()
        if not self.live[t] or u < 0.6:
            k = self.next_id[t]
            self.next_id[t] += 1
            row = self._row(t, k)
            self._add_live(t, k)
            self.docs[t][k] = row
            vals = [row[c] for c in cols]
            return encode_insert(oid, vals), (t, "I", k, dict(row))
        k = self._hot_key(t)
        if u < 0.9:
            new = self._row(t, k)
            doc = self.docs[t][k]
            change = {"id": str(k)}
            # one or two ordinary columns change; the TOAST column
            # changes rarely; one column is sometimes explicitly nulled
            for c in rng.choice(cols[1:-1], int(rng.integers(1, 3)),
                                replace=False).tolist():
                change[c] = new[c]
            if rng.random() < 0.1:
                change[cols[-1]] = new[cols[-1]]
            if rng.random() < 0.1:
                change[cols[int(rng.integers(1, len(cols) - 1))]] = None
            # an UPDATE's new tuple carries every column: the changed
            # ones, the unchanged ordinary ones with their current
            # values, and 'u' for an unchanged TOAST column
            vals = []
            for c in cols:
                if c in change:
                    vals.append(change[c])
                elif c == cols[-1]:
                    vals.append(UNCHANGED)
                else:
                    vals.append(doc[c])
            sent = {c: v for c, v in zip(cols, vals)
                    if c in change or c != cols[-1]}
            doc.update(sent)
            return encode_update(oid, vals), (t, "U", k, sent)
        self._drop_live(t, k)
        del self.docs[t][k]
        return encode_delete(oid, [str(k)]), (t, "D", k, None)

    def _txn(self) -> None:
        self.xid += 1
        n = int(self.rng.integers(1, 21))
        self._pending.append((encode_begin(self.xid), ("B", self.xid)))
        for _ in range(n):
            self._pending.append(self._op())
        self._pending.append((encode_commit(), ("C", self.xid)))

    def segment(self) -> tuple:
        """Next segment: (rows [(offset, bytes)], ops [op tuple]). The
        first segment starts with both Relation messages."""
        out: list = []
        if self._first:
            self._first = False
            for t, (oid, cols, _) in WAL_TABLES.items():
                self._pending.insert(
                    0, (encode_relation(oid, t, cols), ("R", t)))
        while len(self._pending) < self.msgs_per_segment:
            self._txn()
        take = self._pending[:self.msgs_per_segment]
        self._pending = self._pending[self.msgs_per_segment:]
        ops = []
        for msg, op in take:
            out.append((self.offset, msg))
            ops.append(op)
            self.offset += 1
        return out, ops


def write_segment(rows: list, path: str) -> int:
    """Write one segment as a single parquet file (offset long, data
    binary); returns its size in bytes."""
    tbl = pa.table({"offset": pa.array([o for o, _ in rows], pa.int64()),
                    "data": pa.array([m for _, m in rows], pa.binary())})
    pq.write_table(tbl, path)
    return os.path.getsize(path)


def wal_expected(seg_ops: list) -> dict:
    """Committed state after the given segments' ops, replayed in WAL
    order: a transaction's changes apply at its COMMIT; a transaction
    still open at the end (the uncommitted tail) is discarded.
    Returns {table: {id str: {col: str}}} with null columns omitted."""
    state: dict = {t: {} for t in WAL_TABLES}
    buf: list | None = None
    for ops in seg_ops:
        for op in ops:
            kind = op[0]
            if kind == "B":
                buf = []
            elif kind == "C":
                for t, o, k, vals in buf or ():
                    docs = state[t]
                    if o == "I":
                        docs[k] = dict(vals)
                    elif o == "U":
                        if k in docs:
                            docs[k].update(vals)
                    else:
                        docs.pop(k, None)
                buf = None
            elif kind != "R":
                buf.append(op)
    return {t: {str(k): {c: v for c, v in d.items() if v is not None}
                for k, d in docs.items()}
            for t, docs in state.items()}


def committed_rows(seg_ops: list) -> int:
    """Row-change messages belonging to transactions that commit within
    the given segments."""
    n = 0
    cur = 0
    for ops in seg_ops:
        for op in ops:
            if op[0] == "B":
                cur = 0
            elif op[0] == "C":
                n += cur
            elif op[0] != "R":
                cur += 1
    return n


# ---------------------------------------------------------------------------
# JSON envelope log (cdc_backfill)
# ---------------------------------------------------------------------------

ENV_COLS = ["id", "name", "qty", "status", "note"]
ENV_DDL = "id long, name string, qty long, status string, note string"


def envelope_log(seed: int, n_events: int, n_keys: int,
                 path: str) -> dict:
    """Write a JSON envelope log (offset, operationType, tableName,
    payload) to ``path`` and return the expected folded state
    {id: (name, qty, status, note)}.

    Keys are drawn Zipf-skewed; an event on a dead key is an INSERT
    (first insert or re-insert), on a live key an UPDATE (~80 %,
    partial: 1-3 columns, some explicit nulls) or a DELETE. A few
    UPDATEs target never-inserted keys (no-ops) and ~0.1 % of payloads
    are corrupt JSON (skipped)."""
    rng = np.random.default_rng([seed, 2])
    keys = (rng.zipf(1.2, n_events) - 1) % n_keys + 1
    u = rng.random(n_events)
    ncols = rng.integers(1, 4, n_events)
    nulls = rng.random(n_events)
    qty = rng.integers(0, 10 ** 6, n_events)
    status = rng.integers(0, len(_STATUSES), n_events)
    words = rng.integers(0, len(_WORDS), (n_events, 3))
    corrupt = rng.random(n_events) < 0.001
    live: dict = {}                  # generator view: picks the ops
    model: dict = {}                 # expected fold: skips corrupt events
    ops = np.empty(n_events, object)
    payloads = np.empty(n_events, object)
    dumps = json.dumps
    for i in range(n_events):
        k = int(keys[i])
        w = words[i]
        doc = live.get(k)
        if doc is None and u[i] >= 0.02:
            op = "INSERT"
            sent = {"id": k, "name": f"item-{_WORDS[w[0]]}",
                    "qty": int(qty[i]), "status": _STATUSES[status[i]],
                    "note": f"{_WORDS[w[1]]} {_WORDS[w[2]]}"}
            live[k] = dict(sent)
        elif doc is None:
            op = "UPDATE"                # update of a missing key: no-op
            sent = {"id": k, "qty": int(qty[i])}
        elif u[i] < 0.8:
            op = "UPDATE"
            vals = (f"item-{_WORDS[w[0]]}", int(qty[i]),
                    _STATUSES[status[i]], f"{_WORDS[w[1]]} {_WORDS[w[2]]}")
            sent = {"id": k}
            for j in range(int(ncols[i])):
                sent[ENV_COLS[1 + j]] = None if nulls[i] < 0.05 else vals[j]
            doc.update(sent)
        else:
            op = "DELETE"
            sent = {"id": k}
            del live[k]
        ops[i] = op
        if corrupt[i]:
            payloads[i] = dumps(sent)[:-3]
            continue
        payloads[i] = dumps(sent)
        if op == "INSERT":
            model[k] = dict(sent)
        elif op == "UPDATE":
            if k in model:
                model[k].update(sent)
        else:
            model.pop(k, None)
    tbl = pa.table({
        "offset": pa.array(np.arange(n_events, dtype=np.int64)),
        "operationType": pa.array(ops.tolist(), pa.string()),
        "tableName": pa.array(["items"] * n_events, pa.string()),
        "payload": pa.array(payloads.tolist(), pa.string())})
    pq.write_table(tbl, path, row_group_size=n_events // 8 + 1)
    return {k: tuple(d.get(c) for c in ENV_COLS[1:])
            for k, d in model.items()}


# ---------------------------------------------------------------------------
# Document corpus (docs_near_dup_stream)
# ---------------------------------------------------------------------------

_VOCAB = tuple(f"t{i}" for i in range(20000))


def corpus(seed: int, n_docs: int) -> tuple:
    """(doc_ids, texts, quality, planted) for ``n_docs`` documents with
    ids 1..n_docs (< 1,000,000). ~30 % are near-copies of an earlier
    document with 1-3 token edits (replace, drop or insert); ``planted``
    lists each (source id, copy id). Every document has >= 20 tokens,
    so no shingle set is empty."""
    rng = np.random.default_rng([seed, 3])
    texts: list = []
    planted: list = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.3:
            src = int(rng.integers(0, i))
            toks = texts[src].split(" ")
            for _ in range(int(rng.integers(1, 4))):
                j = int(rng.integers(0, len(toks)))
                e = rng.random()
                if e < 0.4:
                    toks[j] = _VOCAB[int(rng.integers(len(_VOCAB)))]
                elif e < 0.7 and len(toks) > 20:
                    del toks[j]
                else:
                    toks.insert(j, _VOCAB[int(rng.integers(len(_VOCAB)))])
            texts.append(" ".join(toks))
            planted.append((src + 1, i + 1))
        else:
            n = int(rng.integers(20, 60))
            texts.append(" ".join(
                _VOCAB[j] for j in rng.integers(0, len(_VOCAB), n)))
    quality = np.round(rng.random(n_docs), 4).tolist()
    return list(range(1, n_docs + 1)), texts, quality, planted


def write_documents(ids: list, texts: list, corpus_dir: str) -> str:
    """Write a corpus dir holding ``documents.parquet`` (the layout
    catalog.table reads). Returns the file path."""
    os.makedirs(corpus_dir, exist_ok=True)
    path = os.path.join(corpus_dir, "documents.parquet")
    pq.write_table(pa.table({"doc_id": pa.array(ids, pa.int64()),
                             "text": pa.array(texts, pa.string())}), path)
    return path

