"""Blocked pairs — the candidate-generation core under every dedup and
similarity pair operator: partition rows by a block key, prune to the
pairs sharing a key, verify each pair locally (REPOSE, ICDE 2021;
EDBT 2019 streaming similarity search). Callers keep their own
carry-or-join-back choice and their cache or ``localCheckpoint`` of
the keyed table.

Naming: a side is named by its id column (``id_a``/``id_b``, or
``src``/``dst`` for the kNN graph); a carried or payload column ``c``
takes the id name's last ``_`` part: ``n_a``, ``vec_src``.
"""

from __future__ import annotations

from typing import Callable, Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def side_col(col: str, id_name: str) -> str:
    """Name of ``col`` on the side whose id column is ``id_name``."""
    return f"{col}_{id_name.rsplit('_', 1)[-1]}"


def _side(df: DataFrame, id_col: str, id_name: str, cols: Sequence[str], keys=()) -> DataFrame:
    renamed = [F.col(c).alias(side_col(c, id_name)) for c in cols]
    return df.select(F.col(id_col).alias(id_name), *keys, *renamed)


def cap_hubs(keyed: DataFrame, keys: Sequence[str], id_col: str, cap: int, size: str) -> DataFrame:
    """Drop every key held by more than ``cap`` rows of ``keyed`` (one
    row per id and key) and set ``size`` to each id's count over the
    capped set, so hot keys leave the shared count and both set sizes.
    Bounds any bucket at cap² pairs."""
    freq = keyed.groupBy(*keys).agg(F.count(F.lit(1)).alias("_freq"))
    kept = freq.where(F.col("_freq") <= cap).select(*keys)
    return keyed.join(kept, list(keys)).withColumn(
        size, F.count(F.lit(1)).over(Window.partitionBy(id_col))
    )


def blocked_pairs(
    keyed: DataFrame,
    keys: Sequence[str],
    *,
    other: DataFrame | None = None,
    id_col: str = "id",
    ids: tuple[str, str] = ("id_a", "id_b"),
    carry: Sequence[str] = (),
    directed: bool = False,
    multi_key: bool = False,
    verify: Callable[[DataFrame], DataFrame] | None = None,
) -> DataFrame:
    """Pairs of ``keyed`` rows (``id_col``, keys, ``carry`` columns)
    sharing all ``keys``: one equi-join keyed on the block key. The id
    rule is ``<`` for a self-join and ``!=`` for a second side
    ``other`` (overlapping ids must not pair a row with itself) or a
    ``directed`` graph. ``verify`` maps joined rows to kept rows (both
    ids kept); by default the result is the ids and carried columns.
    ``multi_key`` (a row holds several keys) dedups on the id pair
    after ``verify``, so the dedup shuffle carries verified pairs only."""
    a_id, b_id = ids
    a = _side(keyed, id_col, a_id, carry, keys)
    b = _side(keyed if other is None else other, id_col, b_id, carry, keys)
    ordered = other is None and not directed
    rule = F.col(a_id) < F.col(b_id) if ordered else F.col(a_id) != F.col(b_id)
    joined = a.join(b, list(keys)).where(rule)
    if verify is None:
        pairs = joined.select(a_id, b_id, *[side_col(c, i) for i in ids for c in carry])
    else:
        pairs = verify(joined)
    return pairs.dropDuplicates([a_id, b_id]) if multi_key else pairs


def join_payload(
    pairs: DataFrame, payload: DataFrame, ids: tuple[str, str] = ("id_a", "id_b"),
    id_col: str = "id",
) -> DataFrame:
    """Join the per-id ``payload`` columns onto both sides of ``pairs``,
    for payloads too wide to ride the keyed rows. The second side joins
    first, so the result stays partitioned on the first id, which a
    per-first-id top-k reuses."""
    cols = [c for c in payload.columns if c != id_col]
    for id_name in reversed(ids):
        pairs = pairs.join(_side(payload, id_col, id_name, cols), id_name)
    return pairs
