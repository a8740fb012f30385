"""Enrichment lookup + routing tables (FIXTURES.md §2-§3).

lang_lookup plays hetman's modifier/relabel stage with data-dependent
values (add_fields semantics, /root/reference/internal/modifier/modifier.go:66-74);
routes plays the multi-forwarder fan-out
(/root/reference/internal/modifier/modifier.go:113-116) — one row per
logical sink, a record may match multiple sinks (duplication IS the
reference behavior).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from hetman_spark.config import SinkConfig

_LOOKUP_ROWS = [
    # lang, lang_label, region, redact_pattern, drop_cols
    ("en", "English", "amer", r"\d{3}-\d{2}-\d{4}", ["referrer"]),
    ("de", "German", "emea", r"\d{3}-\d{2}-\d{4}", ["referrer"]),
    ("fr", "French", "emea", r"\d{3}-\d{2}-\d{4}", ["referrer"]),
    ("es", "Spanish", "amer", r"\d{3}-\d{2}-\d{4}", ["referrer"]),
    ("zh", "Chinese", "apac", r"\d{3}-\d{2}-\d{4}", ["referrer"]),
    ("ru", "Russian", "emea", r"\d{3}-\d{2}-\d{4}", ["referrer"]),
    ("ja", "Japanese", "apac", r"\d{3}-\d{2}-\d{4}", ["referrer"]),
    ("pt", "Portuguese", "amer", r"\d{3}-\d{2}-\d{4}", ["referrer"]),
    ("other", "Other", "row", r"\d{3}-\d{2}-\d{4}", ["referrer"]),
]


def lang_lookup(spark: SparkSession) -> DataFrame:
    """Small broadcast-side dimension: lang -> label/region/rules."""
    return spark.createDataFrame(
        _LOOKUP_ROWS,
        "lang string, lang_label string, region string, "
        "redact_pattern string, drop_cols array<string>",
    )


# Default sink set: representative of the reference's example config
# (2-3 targets x 1-2 forwarders, /root/reference/internal/config/
# hetman.agent.yaml.example).  One match-all sink (every forwarder in
# hetman receives every record of its target) plus predicate-routed
# sinks; `en` is the hot lang so sink-en is the skewed route.
DEFAULT_SINKS: tuple[SinkConfig, ...] = (
    SinkConfig(
        url="sink://archive", add_tags={"tier": "archive", "job": "webtext"},
        predicate_col="*", predicate_val="*",
    ),
    SinkConfig(
        url="sink://english", add_tags={"tier": "hot", "job": "webtext"},
        predicate_col="lang", predicate_val="en",
    ),
    SinkConfig(
        url="sink://errors", add_tags={"tier": "errors", "job": "webtext"},
        predicate_col="status_class", predicate_val="5xx",
    ),
    SinkConfig(
        url="sink://emea", add_tags={"tier": "regional", "job": "webtext"},
        predicate_col="region", predicate_val="emea",
    ),
)


def route_rows(sinks: tuple[SinkConfig, ...]) -> list[tuple]:
    """Routing table rows, as operators/route.py route_explode takes
    them: (sink_id, predicate_col, predicate_val, add_tags, format)."""
    return [
        (s.signature(), s.predicate_col, s.predicate_val, s.add_tags, s.format)
        for s in sinks
    ]


def routes_df(spark: SparkSession, sinks: tuple[SinkConfig, ...] = DEFAULT_SINKS) -> DataFrame:
    """Routing table as a DataFrame (the route_rows columns)."""
    return spark.createDataFrame(
        route_rows(sinks),
        "sink_id string, predicate_col string, predicate_val string, "
        "add_tags map<string,string>, format string",
    )
