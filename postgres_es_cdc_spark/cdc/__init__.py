from postgres_es_cdc_spark.cdc.apply import apply_changes, latest_events  # noqa: F401
from postgres_es_cdc_spark.cdc.envelope import EVENT_SCHEMA, typed_events  # noqa: F401
