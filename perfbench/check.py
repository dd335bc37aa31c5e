"""Output fingerprints: what every timed run is checked against."""

from __future__ import annotations

import math

from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, FloatType

REL_TOL = 1e-9  # float sums may differ by this much (relative)


def fingerprint(df, sample=None, key: str | None = None) -> dict:
    """Row count, bit_xor of xxhash64 over the exact (non-float) columns
    in name order, and the sum of each float column; with `sample`, the
    same for the rows that match it; with `key`, the bit_xor of xxhash64
    over that column alone. One action."""
    floats = sorted(f.name for f in df.schema.fields
                    if isinstance(f.dataType, (DoubleType, FloatType)))
    exact = sorted(c for c in df.columns if c not in floats)
    h = F.xxhash64(*[F.col(f"`{c}`") for c in exact])
    aggs = [F.count(F.lit(1)).alias("rows"), F.bit_xor(h).alias("hash")]
    aggs += [F.sum(F.col(f"`{c}`")).alias(f"sum:{c}") for c in floats]
    if sample is not None:
        aggs += [F.count_if(sample).alias("sample_rows"),
                 F.bit_xor(F.when(sample, h)).alias("sample_hash")]
    if key is not None:
        aggs.append(F.bit_xor(F.xxhash64(F.col(f"`{key}`"))).alias("key_hash"))
    row = df.select(*aggs).collect()[0].asDict()
    row["schema"] = df.schema.simpleString()
    return row


def mismatches(actual: dict, expected: dict) -> list[str]:
    bad = []
    for k, e in expected.items():
        a = actual.get(k)
        if k.startswith("sum:"):
            if not math.isclose(a or 0.0, e or 0.0, rel_tol=REL_TOL,
                                abs_tol=REL_TOL):
                bad.append(f"{k}: {a!r} != {e!r}")
        elif a != e:
            bad.append(f"{k}: {a!r} != {e!r}")
    return bad
