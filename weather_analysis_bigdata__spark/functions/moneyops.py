"""Arrow partial-aggregation kernels for exact money sums (guide
§2.3/§4.2) — the q1_pricing_summary pattern (queries_tpch._q1_partials)
factored for reuse by the other BigDecimal-accumulation aggregates.

Why this wins: every TPC-H revenue sum's accumulator precision exceeds
Spark's compact-long decimal threshold (18), so the JVM pays object-path
BigDecimal adds per row. These kernels quantize the ≤2-decimal money
inputs to cent-scaled int64 (``rint(x·100)`` reproduces the
DECIMAL(18,2) cast exactly — probed in round 11), compute the product
exactly in int64 (≤ 1.1e11 per row), and emit per-batch per-key int64
partial sums (exact: ≤ maxRecordsPerBatch·1.1e11 ≈ 1.1e15, and
session.py pins maxRecordsPerBatch=10000). The JVM then combines a few
partial rows as DECIMAL(38,0) — overflow-safe at any corpus size — and
one decimal division by 10⁴ recovers the exact scale-4 revenue the old
per-row decimal aggregate produced, bit-identically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def revenue_partials(df: DataFrame, keys: list[str]) -> DataFrame:
    """(keys…, l_extendedprice, l_discount) rows → per-batch partials
    (keys…, rev4, cnt): rev4 = Σ cents(price)·(100 − cents(discount))
    exactly in int64 (scale 10⁴), cnt = row count. The caller finishes
    with ``groupBy(keys).agg(sum(rev4 cast decimal(38,0)))`` and
    divides by 10⁴ — identical integers to the per-row
    DECIMAL(38,4)-accumulating form it replaces (integer addition is
    associative; quantization probed exact on ≤2-decimal money)."""
    key_fields = [f for f in df.schema.fields if f.name in keys]
    assert len(key_fields) == len(keys), (keys, df.schema.fieldNames())
    schema = T.StructType(
        [T.StructField(k, next(f.dataType for f in key_fields if f.name == k), True) for k in keys]
        + [
            T.StructField("rev4", T.LongType(), True),
            T.StructField("cnt", T.LongType(), True),
        ]
    )

    def part(it):
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        for b in it:
            if b.num_rows == 0:
                continue
            price = b.column(b.schema.get_field_index("l_extendedprice"))
            disc = b.column(b.schema.get_field_index("l_discount"))
            if price.null_count or disc.null_count:
                raise ValueError(
                    "revenue_partials: null money column (non-null "
                    "contract, see round-11 advice)"
                )
            # A null key encodes to a null dictionary index, which would
            # fold its rows into some other group.
            for k in keys:
                if b.column(b.schema.get_field_index(k)).null_count:
                    raise ValueError(f"revenue_partials: null key column {k!r}")
            # Combined key index via per-column dictionary encoding.
            dicts = []
            combined = None
            for k in keys:
                col = pc.dictionary_encode(
                    b.column(b.schema.get_field_index(k))
                )
                idx = col.indices.to_numpy(zero_copy_only=False).astype(
                    np.int64
                )
                card = len(col.dictionary)
                dicts.append(col.dictionary)
                combined = (
                    idx if combined is None else combined * card + idx
                )
            uq, inv = np.unique(combined, return_inverse=True)
            pcv = np.rint(
                price.to_numpy(zero_copy_only=False) * 100
            ).astype(np.int64)
            dcv = np.rint(
                disc.to_numpy(zero_copy_only=False) * 100
            ).astype(np.int64)
            rev = pcv * (100 - dcv)
            g = len(uq)
            sums = np.zeros(g, dtype=np.int64)
            np.add.at(sums, inv, rev)
            cnt = np.bincount(inv, minlength=g).astype(np.int64)
            # Decode combined key index back to per-key values.
            key_arrays = []
            rem = uq.copy()
            for pos in range(len(keys) - 1, -1, -1):
                card = len(dicts[pos])
                key_arrays.append((pos, rem % card))
                rem = rem // card
            out_cols: list = [None] * len(keys)
            for pos, idxs in key_arrays:
                out_cols[pos] = dicts[pos].take(pa.array(idxs))
            yield pa.RecordBatch.from_arrays(
                out_cols
                + [pa.array(sums), pa.array(cnt)],
                keys + ["rev4", "cnt"],
            )

    return df.select(
        *keys, "l_extendedprice", "l_discount"
    ).mapInArrow(part, schema)


def revenue_from_partials(scale4_sum: F.Column) -> F.Column:
    """DECIMAL(38,0) Σ rev4 → the exact scale-4 revenue as the old
    per-row decimal sum produced it, then one correctly-rounded double
    cast (the identical final op): /10⁴ is exact (the sum IS a scale-4
    integer), the (38,4) cast re-anchors the scale losslessly."""
    return (
        (scale4_sum / F.lit(10000))
        .cast(T.DecimalType(38, 4))
        .cast("double")
    )
