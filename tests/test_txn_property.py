"""Property tests for the round-2 CDC surface: the transactional fold
against a sequential committed-only simulation, and the pgoutput codec
against identity over adversarial values — many pseudo-random scenarios
(fixed seed), each batch folded in ONE Spark job."""

from __future__ import annotations

import json
import random

from pyspark.sql import Row
from pyspark.sql.types import _parse_datatype_string

from postgres_es_cdc_spark.cdc.txn import (
    TXN_EVENT_SCHEMA, apply_changes_transactional)

COLS = ("name", "qty", "price")


def _reference_txn_fold(events, committed: set):
    """Sequential ES-style fold applying only autocommit events and
    members of committed transactions, in offset order."""
    store: dict[int, dict] = {}
    for _off, op, payload, txn in sorted(events):
        if op in ("BEGIN", "COMMIT"):
            continue
        if txn is not None and txn not in committed:
            continue
        doc = json.loads(payload)
        key = doc["id"]
        if op == "INSERT":
            store[key] = {c: doc.get(c) for c in COLS}
        elif op == "UPDATE":
            if key in store:
                for c in COLS:
                    if c in doc:
                        store[key][c] = doc[c]
        else:
            store.pop(key, None)
    return store


def test_txn_fold_matches_sequential_committed_only(spark):
    rng = random.Random(7)
    all_events = []
    expected: dict[int, dict] = {}
    for key in range(1, 101):  # 100 independent per-key scenarios
        n = rng.randrange(1, 10)
        offsets = sorted(rng.sample(range(1, 10_000), n))
        # each key's events split into 1-3 transactions; ~25% of txns
        # (plus any trailing one) may be left uncommitted
        txn_ids = [key * 10 + t for t in range(rng.randrange(1, 4))]
        committed = {t for t in txn_ids if rng.random() < 0.75}
        events = []
        for off in offsets:
            op = rng.choice(
                ["INSERT", "INSERT", "UPDATE", "UPDATE", "DELETE"])
            if op == "INSERT":
                doc = {"id": key, "name": rng.choice(["a", "b", None]),
                       "qty": rng.randrange(100),
                       "price": rng.randrange(100) / 4.0}
                if rng.random() < 0.3:
                    doc.pop(rng.choice(COLS))
            elif op == "UPDATE":
                doc = {"id": key}
                for c in COLS:
                    if rng.random() < 0.5:
                        doc[c] = None if rng.random() < 0.2 else (
                            rng.choice(["x", "y"]) if c == "name"
                            else rng.randrange(100) if c == "qty"
                            else rng.randrange(100) / 4.0)
            else:
                doc = {"id": key}
            # ~15% autocommit (null txn), rest assigned to a random txn
            txn = None if rng.random() < 0.15 else rng.choice(txn_ids)
            events.append((off, op, json.dumps(doc), txn))
        # COMMIT markers above every data offset of the txn
        for t in committed:
            events.append((10_000 + t, "COMMIT", None, t))
        all_events.extend(events)
        expected.update(_reference_txn_fold(events, committed))

    rng.shuffle(all_events)
    df = spark.createDataFrame(
        [Row(offset=o, operationType=op, tableName="t", payload=p, txn_id=t)
         for o, op, p, t in all_events], TXN_EVENT_SCHEMA)
    folded = apply_changes_transactional(
        df, _parse_datatype_string("id long, name string, qty long, price double"))
    got = {r.id: {"name": r.name, "qty": r.qty, "price": r.price}
           for r in folded.collect()}
    assert got == expected


def test_pgoutput_codec_identity_on_adversarial_values(spark):
    """encode -> decode is the identity on payload maps, including
    unicode, JSON metacharacters, empty strings, explicit nulls, and
    unchanged-TOAST markers, across two interleaved tables."""
    from postgres_es_cdc_spark.sources.pgoutput import (
        UNCHANGED, decode_messages, encode_insert, encode_relation,
        encode_update, relation_cache)

    rng = random.Random(13)
    tables = {101: ("ta", ["id", "s", "t"]), 202: ("tb", ["id", "s", "t"])}
    nasty = ["", "a\"b", "back\\slash", "unié中😀",
             "{\"json\":1}", "line\nbreak", "tab\there", " spaced  ",
             "null", "'; DROP TABLE--"]
    msgs, expected = [], []
    for i in range(200):
        oid = rng.choice([101, 202])
        name, cols = tables[oid]
        vals, want = [str(i)], {"id": str(i)}
        for c in cols[1:]:
            r = rng.random()
            if r < 0.2:
                vals.append(None)
                want[c] = None
            elif r < 0.4:
                vals.append(UNCHANGED)  # absent from decoded payload
            else:
                v = rng.choice(nasty)
                vals.append(v)
                want[c] = v
        if rng.random() < 0.5:
            msgs.append(encode_insert(oid, vals))
            expected.append(("INSERT", name, want))
        else:
            msgs.append(encode_update(oid, vals))
            expected.append(("UPDATE", name, want))

    rels = spark.createDataFrame(
        [(-(k + 1), bytearray(encode_relation(oid, *tables[oid])))
         for k, oid in enumerate(tables)], "offset long, data binary")
    wire = spark.createDataFrame(
        [(i, bytearray(m)) for i, m in enumerate(msgs)],
        "offset long, data binary")
    decoded = decode_messages(wire, relation_cache(rels))
    got = {r.offset: (r.operationType, r.tableName, r.payload)
          for r in decoded.collect()}
    assert len(got) == len(expected)
    for i, exp in enumerate(expected):
        assert got[i] == exp, (i, got[i], exp)
