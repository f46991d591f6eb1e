"""Engine facade: config validation (utils.go:119-165 analog) and mode
dispatch (main.go:5-13 analog) — error paths that don't need Kafka."""

from __future__ import annotations

import pytest

from postgres_es_cdc_spark.engine import MODE_CONSUMER, MODE_PRODUCER, AppConfig, run


def test_config_requires_mode():
    with pytest.raises(ValueError, match="MODE"):
        AppConfig.from_env({})


def test_config_requires_kafka_url():
    with pytest.raises(ValueError, match="KAFKA_URL"):
        AppConfig.from_env({"MODE": MODE_CONSUMER})


def test_producer_requires_pg_url():
    with pytest.raises(ValueError, match="PG_CONNECTION_URL"):
        AppConfig.from_env({"MODE": MODE_PRODUCER, "KAFKA_URL": "k:9092"})


def test_config_reference_env_maps(tmp_path):
    cfg = AppConfig.from_env({
        "MODE": MODE_CONSUMER, "KAFKA_URL": "broker:9092",
        "ES_URL": "https://es:9200", "ES_USERNAME": "u", "ES_PASSWORD": "p",
    })
    assert cfg.kafka_topic == "CDC"  # utils.go:31 default topic
    assert cfg.es_url == "https://es:9200"


def test_run_unknown_mode_raises(spark):
    cfg = AppConfig.from_env({"MODE": "X", "KAFKA_URL": "k:9092"})
    with pytest.raises(ValueError, match="unknown MODE"):
        run(spark, cfg, {})


def test_producer_mode_requires_events(spark):
    cfg = AppConfig.from_env({
        "MODE": MODE_PRODUCER, "KAFKA_URL": "k:9092",
        "PG_CONNECTION_URL": "postgres://x"})
    with pytest.raises(ValueError, match="event DataFrame"):
        run(spark, cfg, {})


def test_sql_window_portable_same_text_both_engines(spark, sf_dir, duck):
    from postgres_es_cdc_spark.operators.sql_frontend import (
        SQL_ANSI_WINDOW_PORTABLE, sql_ansi_window_portable)
    from tests.oracle_harness import compare

    r = compare("sql_ansi_window_portable",
                sql_ansi_window_portable(spark, sf_dir), duck,
                SQL_ANSI_WINDOW_PORTABLE)
    assert r.ok, r.message()


def test_clear_stage_caches_releases_per_app_entries(spark, sf_dir):
    """The shared memo registry drops per-applicationId entries (and
    only those) so long-lived multi-corpus sessions can release pinned
    checkpointed frames."""
    from postgres_es_cdc_spark.llm.dedup import (
        _DEDUP_STAGE_CACHE, _memoized)
    from postgres_es_cdc_spark.memo import clear_stage_caches

    app = spark.sparkContext.applicationId
    _memoized(spark, sf_dir, "_memo_test_stage",
              lambda: spark.range(3).toDF("n"))
    assert any(k[0] == app and k[-1] == "_memo_test_stage"
               for k in _DEDUP_STAGE_CACHE)
    _DEDUP_STAGE_CACHE[("other-app", sf_dir, "x")] = object()
    n = clear_stage_caches(app)
    assert n >= 1
    assert not any(k[0] == app for k in _DEDUP_STAGE_CACHE)
    assert ("other-app", sf_dir, "x") in _DEDUP_STAGE_CACHE
    del _DEDUP_STAGE_CACHE[("other-app", sf_dir, "x")]
