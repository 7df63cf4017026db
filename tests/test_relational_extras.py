"""Error-bound tests for sketch aggregates (no SQL oracle by design)."""

from __future__ import annotations


def test_sketch_aggs_error_bounds(spark, sf_dir):
    from weather_analysis_bigdata__spark.registry import all_queries

    rows = all_queries()["sketch_approx_aggs"].fn(spark, sf_dir).collect()
    assert rows
    for r in rows:
        # The query's own bound booleans must hold (the oracle pins TRUE)
        assert r.acd_within_5pct
        assert r.p50_within_rank_1pct
        assert r.exact_parts > 0 and r.n_rows >= r.exact_parts


def test_gapfill_spine_dense_and_fill_total(spark, sf_dir):
    """The gap-filled series must be a dense daily spine per user with
    no null filled values, and observed days must pass through."""
    from weather_analysis_bigdata__spark.registry import all_queries

    rows = all_queries()["gapfill_forward_fill"].fn(spark, sf_dir).collect()
    by_user: dict[int, list] = {}
    for r in rows:
        assert r.filled_value is not None
        if not r.is_gap:
            assert r.filled_value == r.day_value
        else:
            assert r.day_value is None
        by_user.setdefault(r.user_id, []).append(r)
    for series in by_user.values():
        days = sorted(r.day for r in series)
        assert len(days) == (days[-1] - days[0]).days + 1  # dense, no dups


def test_revenue_partials_rejects_null_key(spark):
    """A null grouping key dictionary-encodes to a null index, which
    folded its row into another group: in one batch, (null, "a") was
    summed into (1, "a"), two rows, with no error. It must fail the job."""
    import pytest

    from weather_analysis_bigdata__spark.functions.moneyops import revenue_partials

    df = spark.createDataFrame(
        [(1, "a", 10.0, 0.05), (None, "a", 20.0, 0.0), (2, "b", 30.0, 0.1)],
        "l_orderkey INT, o_orderdate STRING, l_extendedprice DOUBLE, l_discount DOUBLE",
    ).coalesce(1)
    with pytest.raises(Exception, match="null key column 'l_orderkey'"):
        revenue_partials(df, ["l_orderkey", "o_orderdate"]).collect()
