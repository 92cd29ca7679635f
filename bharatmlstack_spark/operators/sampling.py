"""Deterministic sampling operators for training-set construction.

All sampling here is hash-based, never ``rand()``: a row's fate is a pure
function of its key, so samples are reproducible across runs, engines, and
partitionings — the property a 100 TB pipeline needs for resumable /
auditable dataset builds (and the property that makes every operator
DuckDB-oracle-checkable).

Multiplicative hashing (Knuth's 2654435761 over a modulus) is engine-
portable integer arithmetic — identical in Spark and any SQL oracle,
unlike xxhash64/md5-based fractions which differ per engine.

Scale notes:
- ``mix_sample`` is a scan-level filter — no shuffle, fully pushdown-able.
- ``negative_sample`` bounds the candidate cross product by subsampling
  users and the item pool FIRST (both hash-filters), so the expansion is
  |users_kept| x |item_pool|, then one anti-join against observed
  interactions and one per-user top-k window. The interactions side — the
  100 TB side — is touched once, projected to the two key columns.
"""

from __future__ import annotations

from collections.abc import Mapping

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

KNUTH = 2654435761  # 2^32 * golden-ratio conjugate; engine-portable int mix
MIX_LOW = 1 << 20  # low-bits window of the int64-safe mix
MIX_HI = 40503  # 16-bit Knuth constant folds the high bits back in


def knuth_mix(key: Column | str) -> Column:
    """Full-entropy multiplicative mix that CANNOT overflow int64:
    ``(x % 2^20) * KNUTH + (x >> 20) * 40503`` — max ~2^52 + 2^59 < 2^63,
    exact BIGINT arithmetic on every engine at every NONNEGATIVE id.
    Equal to the raw ``x * KNUTH`` for x < 2^20 (every test-fixture id),
    while the raw product overflows for x >= ~3.5e9, where Spark wraps
    silently but DuckDB promotes to HUGEINT — the arithmetic-divergence
    family tests/test_oracle_types.py lints registry-wide. The SQL twin
    is ``(x % 1048576) * 2654435761 + (x // 1048576) * 40503``.

    PRECONDITION: keys must be >= 0 (true of every id column here). For
    negative keys the two forms disagree: Spark's ``shiftright`` is an
    arithmetic shift (floors toward -inf) while DuckDB's ``//``
    truncates toward zero — e.g. x=-1 gives high=-1 vs high=0. A
    negative-id feed must be shifted into the nonnegative range first."""
    c = F.col(key) if isinstance(key, str) else key
    c = c.cast("bigint")
    return (c % F.lit(MIX_LOW)) * F.lit(KNUTH) + F.shiftright(c, 20) * F.lit(MIX_HI)


def hash_fraction(key: Column | str, modulus: int = 10000) -> Column:
    """Deterministic pseudo-uniform value in [0, modulus) from an integer
    key. Pure int arithmetic -> identical in Spark / DuckDB / anything."""
    return knuth_mix(key) % F.lit(modulus)


def mix_sample(
    df: DataFrame,
    strata_col: str,
    id_col: str,
    rates: Mapping[str, float],
    default_rate: float = 0.0,
) -> DataFrame:
    """Corpus mixing: keep each row with a per-stratum rate (e.g. domain /
    language re-weighting when assembling a training mix).

    Deterministic per id — re-running at a higher rate yields a superset
    (nested samples), which is what incremental corpus scaling wants.
    """
    frac = hash_fraction(id_col)
    rate_expr: Column = F.lit(default_rate)
    for value, rate in rates.items():
        rate_expr = F.when(F.col(strata_col) == value, F.lit(rate)).otherwise(rate_expr)
    return df.filter(frac < rate_expr * 10000)


def negative_sample(
    interactions: DataFrame,
    user_col: str,
    item_col: str,
    users: DataFrame,
    items: DataFrame,
    k: int = 5,
) -> DataFrame:
    """Per-user hash-ranked negative sampling: for every user in ``users``,
    the ``k`` items from ``items`` the user did NOT interact with, chosen
    by a deterministic per-(user, item) hash order.

    Mirrors the reference's implicit-feedback training shape (interaction
    store supplies positives; negatives are synthesized) —
    interaction-store/pkg/proto/time_series.proto:16-34 defines the
    positive events; sampling is our engine extension.

    ``users`` x ``items`` must be pre-bounded by the caller (hash-filter
    subsets); the cross join is their product, broadcast on the item side.
    The same goes for ``interactions``: only pairs inside users x items
    can ever eliminate a candidate, so the caller should apply the pool
    predicates AT THE SCANS (as queries_corpus.negative_sampling does) —
    the distinct + anti-join shuffle then shrinks by the product of the
    two sampling rates instead of paying the full fact table.

    Shape note (r17, measured): an in-row variant — positives aggregated
    to one set per user, anti-join + hash-rank + top-k run per row over
    the pooled item array (array_except + struct array_sort + slice) —
    shuffles only |pos| rows instead of the candidate product, but
    measured 1.5-1.7x SLOWER in an interleaved A/B (min 0.94 vs 0.63 s
    at sf0.1/32c; spreading the per-user rows did not recover it): the
    per-row O(|items| log |items|) interpreted-HOF sort replaces a
    codegen'd distributed window, and its per-row cost GROWS with the
    item pool while the window form only grows the (cheap, two-column)
    candidate shuffle. Kept the window form; see OPTIMIZATION_r17.md
    "Rejected" and tests/test_corpus_ops.py's replay pin, which fixes
    the (score, item) order either implementation must produce.
    """
    u = users.select(F.col(user_col).cast("bigint").alias(user_col)).distinct()
    i = items.select(F.col(item_col).cast("bigint").alias(item_col)).distinct()
    pos = interactions.select(user_col, item_col).distinct()
    cand = u.crossJoin(F.broadcast(i)).join(pos, on=[user_col, item_col], how="left_anti")
    # per-(user, item) mix in the same int64-safe form as knuth_mix —
    # the raw user*1000003 + item*KNUTH wraps for item >= ~3.5e9
    u_c, i_c = F.col(user_col).cast("bigint"), F.col(item_col).cast("bigint")
    score = (
        (u_c % F.lit(MIX_LOW)) * F.lit(1000003)
        + F.shiftright(u_c, 20) * F.lit(7919)
        + (i_c % F.lit(MIX_LOW)) * F.lit(KNUTH)
        + F.shiftright(i_c, 20) * F.lit(MIX_HI)
    ) % F.lit(999999937)
    w = Window.partitionBy(user_col).orderBy(score.asc(), F.col(item_col).asc())
    return (
        cand.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )
