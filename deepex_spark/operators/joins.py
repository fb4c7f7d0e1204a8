"""Join strategy utilities: salted skew joins, the fallback to a broadcast.

The north_rule requires "entity linking against a broadcast alias dictionary
with salted-hash-join skew mitigation". The alias dictionary (reference
``scripts/rc/*_aliases_*.json``, 12k keys) broadcasts comfortably; at 10^12
documents the *probe side* key distribution is what skews (hot aliases like
"the company"). A broadcast hash join is immune to probe-side skew (no
shuffle), so it is the default. ``salted_equi_join`` is the explicit
fallback for dictionaries too large to broadcast: the build side is
replicated ``buckets`` times, the probe side gets a deterministic salt, and
the shuffle key becomes (key, salt) — hot keys spread over ``buckets``
reducers. AQE skew-join handles residual imbalance.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_equi_join(
    big: DataFrame,
    small: DataFrame,
    key: str,
    buckets: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Shuffle equi-join with explicit salt on the (skewed) big side.

    big is salted deterministically per row by hashing the whole row's key
    plus a per-row disambiguator derived from its other columns — NOT
    random, so results are reproducible across retries/cluster sizes.
    """
    other_cols = [c for c in big.columns if c != key]
    salt_src = F.xxhash64(F.col(key), *[F.col(c) for c in other_cols[:3]])
    salted_big = big.withColumn("_salt", F.pmod(salt_src, F.lit(buckets)).cast("int"))
    salted_small = small.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(buckets - 1)))
    )
    out = salted_big.join(salted_small, [key, "_salt"], how)
    return out.drop("_salt")
