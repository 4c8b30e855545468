"""Skew-mitigation utilities.

The session enables AQE skew-join splitting (session.py), which
handles most skew at runtime; this module is the explicit form for
the cases AQE can't fix — a single hot key whose build side still
fits memory, aggregations over a hot group, or engines/configs
without AQE. Public technique (salting): spread the hot key over N
synthetic sub-keys, replicate the small side N×, join on
(key, salt), so one executor no longer owns the whole hot partition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_join(
    skewed: DataFrame,
    small: DataFrame,
    on: list[str],
    n_salts: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Equi-join where ``skewed``'s key distribution is hot: the big
    side gets a deterministic per-row salt in [0, n_salts) (hash of
    all columns — stable across retries, unlike ``rand()``), the
    small side is replicated once per salt, and the join key becomes
    (on..., salt). Result equals ``skewed.join(small, on, how)``
    row-for-row; cost adds n_salts× duplication of the SMALL side
    only."""
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in skewed.columns]), F.lit(n_salts))
    big = skewed.withColumn("_salt", salt)
    rep = small.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)).cast("array<long>"))
    )
    return big.join(rep, [*on, "_salt"], how).drop("_salt")
