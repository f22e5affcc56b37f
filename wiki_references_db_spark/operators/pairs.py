"""Same-key candidate pairs: every unordered pair of members that share
a bucket key, emitted once.

This is the candidate-generation step of every near-duplicate and
similarity family (shingle / band / block indexes, co-occurrence
graphs).  ``same_key_pairs`` is the one implementation; callers pick
the strategy and keep their own bucket caps (drop the bucket, keep the
first k, anti-join the hot keys — the cap means different things per
family, so it stays with the caller).

Output contract, both strategies: one row per unordered pair of input
rows with equal ``keys`` and ``member_a < member_b``, carrying the key
columns, ``<member>_a`` / ``<member>_b`` and ``<col>_a`` / ``<col>_b``
for each payload column.  Rows with a NULL key or a NULL member never
pair (SQL equi-join semantics).  The pair multiset is the same under
both strategies: a member repeated under one key pairs once per copy
with each larger member and never with itself.  Nothing is persisted
here; a caller that wants its index cached persists ``rows``.

``strategy="join"``: the equi self-join on ``keys`` with
``a.member < b.member``.  The codegen'd join streams the pairs, so its
cost is bounded only by bucket size; right where the index keeps
buckets small.  Call sites and the evidence behind them:

- SimHash pigeonhole blocks (``simhash_hamming_pairs``): the 16-bit
  block index keeps buckets small; the fan-out measured slower,
  2.36 vs 1.70 s (``bench_runs/r14/ab_simhash_partpair.txt``).
- Jaccard prefix index (``dedup_jaccard_prefix_filter``): rare-first
  prefixes disfavor hot buckets; the fan-out measured 1.82 vs 1.21 s
  (``bench_runs/r14/ab_jaccard_noj.txt``).
- every other site keeps the self-join it was measured in: the
  DF-capped shingle index (``dedup_ngram_jaccard``,
  ``dedup_substring_containment``, ``sparse_idf_cosine_pairs``), the
  MinHash bands and the banded-LSH recall meters, the SemDeDup cells,
  the blocking keys of ``fuzzy_match_blocked``, and the small domains
  paired through a shared key in ``triangle_count_cosupplier``
  (suppliers per order), ``audience_overlap_jaccard`` (event types per
  user), ``source_overlap_matrix`` and ``source_centroid_similarity``
  (sources per content hash / dimension).

``strategy="fanout"``: the occupancy-graded part-pair fan-out, the only
form whose group state stays bounded when one key is hot.  A count
window grades each bucket's occupancy ``occ``; each row gets the part
``pmod(xxhash64(member), P)`` with ``P = ceil(occ / PART_OCC)`` and is
sent to the ``P`` part-pair groups ``(min(part, k), max(part, k))``;
one sorted ``collect_list`` per (key, group) emits the within-part
pairs for ``i = j`` and the part-i x part-j pairs for ``i < j``, so
every same-key pair surfaces exactly once.  Group state is at most
about ``2 * PART_OCC`` members however hot the key, and a bucket of
``occ`` members crosses the exchange as ``occ * P`` rows.  A bucket of
at most ``PART_OCC`` members is one group: the plain sorted-bucket
fan-out.  A caller whose own cap already bounds every bucket at or
below ``PART_OCC`` passes it as ``cap`` and the grading (window, part
and group explode) is skipped.  Call sites:

- the adaptive-width sign-LSH bands (``dedup_embedding_cosine``,
  ``dedup_embedding_cosine_projected``): a degenerate hot band key is
  the scale hazard; 0.742 -> 0.646 s over the self-join
  (``bench_runs/r14/ab_cosine_partpair.txt``).
- the winnowing fingerprint and truth-gram indexes (cap 20) and the
  adamic-adar supplier buckets (cap 8): the caller's window cap bounds
  every bucket, so they pass ``cap``; grading them anyway measured
  0.742 vs 0.648 s median for adamic at sf0.001 (16 alternated
  same-JVM passes, 4-vCPU host), 0.722 vs 0.696 s for winnowing.
- the triangle-count wedges, member ``(ddst, dst)`` per apex: the
  compact-forward orientation bounds out-degree at O(sqrt(m)) but sets
  no constant cap, so the buckets are graded.
"""

from __future__ import annotations

import operator
from functools import reduce
from typing import Iterable

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

PART_OCC = 64  # fan-out target members per part (4x the LSH bands' expected occupancy)

_A, _B = "_pair_a", "_pair_b"
_SIDES = (("a", _A, "lo"), ("b", _B, "hi"))  # output suffix, join alias, fan-out side


def same_key_pairs(
    rows: DataFrame,
    keys: Iterable[str],
    member: str,
    *,
    payload: Iterable[str] = (),
    strategy: str,
    cap: int | None = None,
) -> DataFrame:
    """(keys..., <member>_a, <member>_b, <col>_a, <col>_b ...) for every
    unordered same-key pair of ``rows`` (see the module docstring).
    ``cap`` (fan-out only) is the caller's own bound on bucket size;
    at or below ``PART_OCC`` it skips the occupancy grading."""
    keys, payload = list(keys), list(payload)
    fields = [member, *payload]
    live = rows.select(*keys, *fields).filter(
        reduce(operator.and_, [F.col(c).isNotNull() for c in [*keys, member]])
    )
    if strategy == "join":
        return _join(live, keys, member, fields)
    if strategy == "fanout":
        return _fanout(live, keys, member, fields, cap)
    raise ValueError(f"unknown pair strategy {strategy!r}")


def _join(live: DataFrame, keys: list, member: str, fields: list) -> DataFrame:
    a, b = live.alias(_A), live.alias(_B)
    on = [F.col(f"{_A}.{k}") == F.col(f"{_B}.{k}") for k in keys]
    on.append(F.col(f"{_A}.{member}") < F.col(f"{_B}.{member}"))
    return a.join(b, reduce(operator.and_, on)).select(
        *[F.col(f"{_A}.{k}").alias(k) for k in keys],
        *[F.col(f"{alias}.{c}").alias(f"{c}_{t}") for c in fields for t, alias, _ in _SIDES],
    )


def _fanout(live: DataFrame, keys: list, member: str, fields: list, cap: int | None) -> DataFrame:
    m = f"`{member}`"
    # Within one sorted bucket: each member with every later, larger one.
    within = (
        "flatten(transform(ms, (x, idx) -> transform("
        f"filter(slice(ms, idx + 2, size(ms) - idx - 1), y -> x.{m} < y.{m}), "
        "y -> struct(x AS lo, y AS hi))))"
    )
    if cap is not None and cap <= PART_OCC:
        groups, collected, pairs_sql = keys, fields, within
    else:
        occ = F.count(F.lit(1)).over(Window.partitionBy(*keys))
        n_parts = f"(_occ + {PART_OCC - 1}) div {PART_OCC}"
        part = f"CAST(pmod(xxhash64({m}), {n_parts}) AS INT)"
        live = live.withColumn("_occ", occ).select(
            *keys,
            *fields,
            F.expr(part).alias("_part"),
            F.explode(
                F.expr(
                    f"transform(sequence(0, CAST({n_parts} AS INT) - 1), "
                    f"k -> struct(least({part}, k) AS i, greatest({part}, k) AS j))"
                )
            ).alias("_grp"),
        )
        groups, collected = [*keys, "_grp"], [*fields, "_part"]
        across = (
            "flatten(transform(filter(ms, p -> p._part = _grp.i), x -> "
            "transform(filter(ms, p -> p._part = _grp.j), y -> "
            f"IF(x.{m} < y.{m}, struct(x AS lo, y AS hi), struct(y AS lo, x AS hi)))))"
        )
        pairs_sql = f"CASE WHEN _grp.i = _grp.j THEN {within} ELSE {across} END"
    p = F.col("p")
    return (
        live.groupBy(*groups)
        .agg(F.sort_array(F.collect_list(F.struct(*collected))).alias("ms"))
        .select(*keys, F.explode(F.expr(pairs_sql)).alias("p"))
        .select(
            *keys,
            *[p[side][c].alias(f"{c}_{t}") for c in fields for t, _, side in _SIDES],
        )
    )
