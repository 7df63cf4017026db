"""Property-based tests (hypothesis) for the engine's core invariants:
order/partitioning-independence of the deterministic aggregates, n-gram
construction correctness, and Silver imputation totality.

Each example spins a small Spark job, so example counts are kept low —
the properties are about structural invariants, not fuzzing volume.
"""

from __future__ import annotations

from decimal import Decimal

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

money = st.decimals(
    min_value=Decimal("-99999.99"),
    max_value=Decimal("99999.99"),
    places=2,
    allow_nan=False,
    allow_infinity=False,
)

# Each example runs Spark jobs (~seconds); keep counts small — these
# verify structural invariants, not fuzz coverage.
SET = settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@given(values=st.lists(money, min_size=1, max_size=60))
@SET
def test_dsum_is_partitioning_invariant_and_exact(spark, values):
    from weather_analysis_bigdata__spark.functions.deterministic import dsum

    floats = [float(v) for v in values]
    exact = float(sum(Decimal(f"{v:.2f}") for v in floats))
    results = set()
    for n_part in (1, 3, 7):
        df = spark.createDataFrame(
            [(v,) for v in floats], "x double"
        ).repartition(n_part)
        got = df.agg(dsum("x").alias("s")).first().s
        results.add(got)
    assert results == {exact}


@given(tokens=st.lists(st.text(alphabet="abcdez", min_size=1, max_size=5),
                       min_size=0, max_size=12))
@SET
def test_word_ngrams_matches_python_reference(spark, tokens):
    from weather_analysis_bigdata__spark.functions.textops import word_ngrams

    expected = [" ".join(tokens[i:i + 3]) for i in range(max(0, len(tokens) - 2))]
    df = spark.createDataFrame([(tokens,)], "toks array<string>")
    got = df.select(word_ngrams(F.col("toks")).alias("g")).first().g
    assert got == expected


@given(
    tmin=st.one_of(st.none(), st.floats(-30, 20)),
    tmax=st.one_of(st.none(), st.floats(-10, 45)),
    tavg=st.one_of(st.none(), st.floats(-20, 30)),
    wind=st.one_of(st.none(), st.floats(0, 40)),
)
@SET
def test_silver_imputation_total_and_correct(spark, tmin, tmax, tavg, wind):
    """One-row pipeline: Silver must never emit nulls in imputed columns,
    and the avg-temperature repair must follow keep | (min+max)/2 | 0."""
    from weather_analysis_bigdata__spark.pipeline.schemas import (
        STATION_SCHEMA,
        WEATHER_WIDE_SCHEMA,
    )
    from weather_analysis_bigdata__spark.pipeline.silver import build_silver

    row = (
        "2024-03-01T00:00:00", "GHCND:TEST",
        None, None, None, tmax, tmin, tavg, wind, None, None, None,
    )
    bronze = spark.createDataFrame([row], WEATHER_WIDE_SCHEMA)
    dim = spark.createDataFrame(
        [("GHCND:TEST", "TEST STATION", 40.0, -70.0)], STATION_SCHEMA
    )
    out = build_silver(bronze, dim).first()
    assert out.avg_wind_speed is not None
    assert out.wind_direction_2min is not None
    assert out.fastest_2min_wind == 0.0
    assert out.weather_type_1 == "0"
    assert out.avg_temperature_rounded is not None
    if tavg is not None:
        assert out.avg_temperature_rounded == pytest.approx(round(tavg, 2), abs=1e-9)
    elif tmin is not None and tmax is not None:
        assert out.avg_temperature_rounded == pytest.approx(
            round((tmin + tmax) / 2, 2), abs=1e-9
        )
    else:
        assert out.avg_temperature_rounded == 0.0
    if wind is not None:
        assert out.avg_wind_speed == pytest.approx(wind)
    else:
        assert out.avg_wind_speed == 0.0  # whole group null → 0


# ---------------------------------------------------------------------------
# Media codec round-trips (no Spark needed — pure codec invariants)
# ---------------------------------------------------------------------------
@given(
    w=st.integers(min_value=1, max_value=12),
    h=st.integers(min_value=1, max_value=12),
    data=st.data(),
)
@settings(max_examples=60, deadline=None)
def test_ppm_roundtrip_any_raster(w, h, data):
    """encode_ppm → decode_ppm is the identity for every raster."""
    import numpy as np

    from weather_analysis_bigdata__spark.operators.multimodal import (
        decode_ppm,
        encode_ppm,
    )

    px = np.array(
        data.draw(
            st.lists(
                st.integers(min_value=0, max_value=255),
                min_size=3 * w * h,
                max_size=3 * w * h,
            )
        ),
        dtype=np.uint8,
    )
    w2, h2, arr = decode_ppm(encode_ppm(w, h, px))
    assert (w2, h2) == (w, h)
    assert np.array_equal(arr.reshape(-1), px)


@given(
    samples=st.lists(
        st.integers(min_value=-32768, max_value=32767), min_size=0, max_size=200
    ),
    sr=st.sampled_from([8000, 16000, 44100]),
)
@settings(max_examples=60, deadline=None)
def test_wav_roundtrip_any_samples(samples, sr):
    """encode_wav_pcm16 → decode_wav_pcm16 is the identity, incl. the
    empty stream and full int16 range; container length is canonical."""
    import numpy as np

    from weather_analysis_bigdata__spark.operators.multimodal import (
        decode_wav_pcm16,
        encode_wav_pcm16,
    )

    arr = np.array(samples, dtype=np.int16)
    payload = encode_wav_pcm16(arr, sr)
    assert len(payload) == 44 + 2 * len(samples)
    sr2, back = decode_wav_pcm16(payload)
    assert sr2 == sr
    assert np.array_equal(back, arr)


@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),  # key (few → collisions)
            st.integers(min_value=-5, max_value=5),  # value (ties likely)
        ),
        min_size=1,
        max_size=40,
    ),
    k=st.integers(min_value=1, max_value=5),
)
@settings(max_examples=25, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_grouped_topk_matches_python_reference(spark, rows, k):
    """grouped_topk ≡ per-key sorted-prefix under arbitrary keys, tie
    values, and k — with a unique tiebreaker appended, ranks are total
    and partitioning-independent."""
    from weather_analysis_bigdata__spark.functions.distributed import (
        grouped_topk,
    )

    data = [(key, v, i) for i, (key, v) in enumerate(rows)]
    df = spark.createDataFrame(data, ["k", "v", "uid"]).repartition(5)
    got = {
        (r.k, r.rank): (r.v, r.uid)
        for r in grouped_topk(
            df, ["k"], [F.col("v"), F.col("uid")], k
        ).collect()
    }
    expect = {}
    per_key: dict = {}
    for key, v, uid in data:
        per_key.setdefault(key, []).append((v, uid))
    for key, vs in per_key.items():
        for rank, (v, uid) in enumerate(sorted(vs)[:k], start=1):
            expect[(key, rank)] = (v, uid)
    assert got == expect


@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=-1000, max_value=1000),  # key
            st.integers(min_value=0, max_value=50),  # weight
        ),
        min_size=1,
        max_size=60,
    ),
    n_parts=st.sampled_from([1, 3, 8]),
)
@SET
def test_two_pass_prefix_sum_matches_python_reference(spark, rows, n_parts):
    """The weighted offset algebra == a sequential running sum, at any
    bucket count, including duplicate keys (tie-broken by uid)."""
    from weather_analysis_bigdata__spark.functions.distributed import (
        two_pass_prefix_sum,
    )

    data = [(k, w, i) for i, (k, w) in enumerate(rows)]
    df = spark.createDataFrame(data, "k long, w long, uid long")
    got = {
        r.uid: r.cum_w
        for r in two_pass_prefix_sum(
            df, ["k", "uid"], "w", n_parts, cum_col="cum_w"
        ).collect()
    }
    cum = 0
    expect = {}
    for k, w, uid in sorted(data, key=lambda t: (t[0], t[2])):
        cum += w
        expect[uid] = cum
    assert got == expect


@given(
    toks=st.lists(
        st.text(
            alphabet=st.characters(
                whitelist_categories=("Ll", "Lu", "Nd")
            ),
            min_size=1,
            max_size=5,
        ),
        min_size=1,
        max_size=30,
    )
)
@SET
def test_paragraph_segmentation_reconstructs_token_stream(spark, toks):
    """paragraphs() tiles the token stream exactly: windows of 8 plus
    one ragged tail, concatenating back to the original tokens."""
    from weather_analysis_bigdata__spark.queries_hygiene import paragraphs

    text = " ".join(toks)
    df = spark.createDataFrame([(text,)], "text string")
    paras = df.select(paragraphs(F.col("text")).alias("p")).first().p
    # reconstruction
    assert " ".join(paras) == text
    # every window but the last is exactly 8 tokens
    sizes = [len(p.split(" ")) for p in paras]
    assert all(s == 8 for s in sizes[:-1])
    assert 1 <= sizes[-1] <= 8
