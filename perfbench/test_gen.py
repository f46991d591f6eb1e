"""Tests for the benchmark's seeded generators.

Run from the repository root: ``python3 -m pytest perfbench -q``.

* the same seed gives byte-identical WAL segments, event logs and
  corpus (and a different seed does not);
* each generator's own state model matches the engine's batch fold on
  a tiny instance.
"""

from __future__ import annotations

import hashlib
import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [ROOT, os.path.dirname(os.path.abspath(__file__))]

import gen  # noqa: E402


def _sha(path: str) -> str:
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


def _wal(seed: int, n: int, msgs: int = 200) -> list:
    g = gen.WalGen(seed, msgs)
    return [g.segment() for _ in range(n)]


def test_wal_segments_repeat_byte_for_byte(tmp_path):
    a, b = _wal(7, 4), _wal(7, 4)
    assert a == b
    for i, ((rows_a, _), (rows_b, _)) in enumerate(zip(a, b)):
        pa_ = str(tmp_path / f"a{i}.parquet")
        pb_ = str(tmp_path / f"b{i}.parquet")
        gen.write_segment(rows_a, pa_)
        gen.write_segment(rows_b, pb_)
        assert _sha(pa_) == _sha(pb_)
    assert _wal(8, 4) != a


def test_wal_segments_cover_the_workload_shape():
    segs = _wal(3, 6)
    ops = [op for _, seg_ops in segs for op in seg_ops]
    kinds = [op[1] for op in ops if op[0] in gen.WAL_TABLES]
    n = len(kinds)
    assert 0.5 < kinds.count("I") / n < 0.7
    assert 0.2 < kinds.count("U") / n < 0.4
    assert 0.04 < kinds.count("D") / n < 0.16
    assert {op[0] for op in ops if op[0] in gen.WAL_TABLES} == \
        set(gen.WAL_TABLES)
    # offsets are one global sequence; some transaction spans segments
    offs = [o for rows, _ in segs for o, _ in rows]
    assert offs == list(range(len(offs)))
    assert any(seg_ops[-1][0] != "C" for _, seg_ops in segs)


def test_event_log_and_corpus_repeat_byte_for_byte(tmp_path):
    pa_, pb_ = str(tmp_path / "a.parquet"), str(tmp_path / "b.parquet")
    ma = gen.envelope_log(5, 5000, 300, pa_)
    mb = gen.envelope_log(5, 5000, 300, pb_)
    assert ma == mb and _sha(pa_) == _sha(pb_)
    pc_ = str(tmp_path / "c.parquet")
    assert gen.envelope_log(6, 5000, 300, pc_) != ma
    assert gen.corpus(5, 300) == gen.corpus(5, 300)
    assert gen.corpus(5, 300) != gen.corpus(6, 300)
    ids, texts, _, planted = gen.corpus(5, 300)
    da = gen.write_documents(ids, texts, str(tmp_path / "da"))
    db = gen.write_documents(ids, texts, str(tmp_path / "db"))
    assert _sha(da) == _sha(db)
    assert max(ids) < 1_000_000 and 0.2 < len(planted) / len(ids) < 0.4
    assert min(len(t.split(" ")) for t in texts) >= 3


@pytest.fixture(scope="module")
def spark():
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    from postgres_es_cdc_spark.session import get_spark
    s = get_spark("perfbench-tests", cpus=2, shuffle_partitions=2)
    s.sparkContext.setLogLevel("ERROR")
    return s


def test_event_log_model_matches_apply_changes(spark, tmp_path):
    from pyspark.sql.types import _parse_datatype_string

    from postgres_es_cdc_spark.cdc.apply import apply_changes

    path = str(tmp_path / "log.parquet")
    # enough events that the 0.1 % corrupt payloads appear
    want = gen.envelope_log(11, 20000, 400, path)
    events = spark.read.parquet(path)
    assert events.filter("operationType = 'DELETE'").count() > 0
    got = {r["id"]: tuple(r[c] for c in gen.ENV_COLS[1:])
           for r in apply_changes(
               events, _parse_datatype_string(gen.ENV_DDL)).collect()}
    assert got == want


def test_wal_model_matches_transactional_fold(spark):
    from pyspark.sql.types import _parse_datatype_string

    from postgres_es_cdc_spark.cdc.txn import apply_changes_transactional
    from postgres_es_cdc_spark.sources.pgoutput import (
        assign_txn_ids, decode_with_relation_resends)

    segs = _wal(9, 3, msgs=150)
    rows = [(o, bytearray(m)) for seg_rows, _ in segs for o, m in seg_rows]
    ev, _ = decode_with_relation_resends(
        spark.createDataFrame(rows, "offset long, data binary"), {})
    ev = assign_txn_ids(ev)
    want = gen.wal_expected([ops for _, ops in segs])
    for t, (_, _, ddl) in gen.WAL_TABLES.items():
        # BEGIN/COMMIT markers carry no table: keep them for every table
        mine = ev.filter((ev.tableName == t) | ev.tableName.isNull())
        state = apply_changes_transactional(mine, _parse_datatype_string(ddl))
        got = {str(r["id"]): {c: str(v) for c, v in r.asDict().items()
                              if v is not None}
               for r in state.collect()}
        assert got == want[t]
