#!/usr/bin/env python3
"""Stress the hashed-hyperplane banded LSH where the adaptive rule must
select bits > 16 — the regime that exists PAST the coordinate-sign
generator's budget (4 disjoint bands x 16 bits = all 64 dims, i.e.
~2^16 * 16 ~ 1M vectors) and the whole reason
``dedup_embedding_cosine_projected`` is registered.

The r11 stress points (10x/30x of sf0.1 ~ 20k-60k vectors) never left
the bits<=12 regime the coordinate form already handles; this harness
builds synthetic deterministic corpora straddling the 16-bit boundary:

    n = 300_000   -> ceil(n/16) = 18_750 -> bits 15
    n = 600_000   -> ceil(n/16) = 37_500 -> bits 16  (coordinate cap)
    n = 1_100_000 -> ceil(n/16) = 68_750 -> bits 17  (projected-only)

Because 2^bits tracks n/16, expected bucket occupancy (n / 2^bits) is
~9.2 at ALL THREE sizes, so candidate pairs per row must stay ~flat
across the boundary and wall-clock must grow ~linearly in n.  A plan
that stops widening the key at 16 bits would instead double occupancy
at 1.2M (candidates/row x2) — that is the regression this detects.

Vectors are deterministic (xxhash64-derived uniform [-1, 1] floats), so
reruns are comparable; near-zero confirmed pairs at threshold 0.4 is
EXPECTED for random vectors — the cost under test is candidate
generation + exact-cosine confirm over the candidates, not the output.

Usage: python tools/stress_projected_bits.py [n1,n2,...]
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from wiki_references_db_spark.operators.pairs import same_key_pairs
from wiki_references_db_spark.queries.training import (
    _PROJ_MAX_BITS,
    _adaptive_bits_cfg,
    _neardup_pairs_from_bands,
    _proj_band_rows,
)
from wiki_references_db_spark.session import get_spark

SIZES = [300_000, 600_000, 1_100_000]

# Deterministic synthetic 64-dim embedding: coordinate j of vector id is
# a xxhash64-derived uniform in [-1, 1] cast to float (the real table's
# element type).  Entirely JVM-side — no Python in the generation path.
_SYNTH_EMBED = (
    "transform(sequence(0, 63), j -> CAST((CAST(pmod(xxhash64(id, j), 2001)"
    " AS DOUBLE) - 1000.0) / 1000.0 AS FLOAT))"
)


def expected_bits(n: int) -> int:
    target = (n + 15) // 16
    bits = max(4, (target - 1).bit_length())
    return min(_PROJ_MAX_BITS, bits)


def main() -> None:
    sizes = (
        [int(x) for x in sys.argv[1].split(",")] if len(sys.argv) > 1 else SIZES
    )
    # ~35 candidate pairs/row at the target occupancy, each carrying two
    # 64-float embeddings through the confirm joins — at n=1.1M that is
    # a ~25 GB shuffle, so size partitions for it (the engine default of
    # 32 gives ~800 MB partitions and GC-thrashes a 1-JVM local mode;
    # a real cluster would get this from AQE + per-executor heaps).
    spark = get_spark(
        app_name="stress-projected-bits", shuffle_partitions=256
    )
    spark.sparkContext.setLogLevel("ERROR")
    tmp = tempfile.mkdtemp(prefix="projbits")
    rows = []
    for n in sizes:
        path = os.path.join(tmp, f"emb_{n}.parquet")
        (
            spark.range(n)
            .select(
                F.col("id").cast("long").alias("vec_id"),
                F.expr(_SYNTH_EMBED).alias("embedding"),
            )
            .repartition(32)
            .write.mode("overwrite")
            .parquet(path)
        )
        e = spark.read.parquet(path)

        bits = _adaptive_bits_cfg(e, _PROJ_MAX_BITS).first()["bits"]
        assert bits == expected_bits(n), (n, bits, expected_bits(n))

        bands = _proj_band_rows(e)
        pairs = _neardup_pairs_from_bands(e, bands)
        plan = pairs._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
            pairs._jdf.queryExecution(), "formatted"
        )
        assert "CartesianProduct" not in plan, "all-pairs plan leaked in"

        # Candidate volume: the distinct same-band collision count —
        # the quantity the adaptive rule holds ~linear in n — from the
        # same fan-out the dedup tail uses.
        cand = (
            same_key_pairs(
                bands, ["band_id", "band_key"], "vec_id", strategy="fanout"
            )
            .select("vec_id_a", "vec_id_b")
            .distinct()
            .count()
        )

        best = None
        for _ in range(2):
            t0 = time.perf_counter()
            pairs.write.mode("overwrite").format("noop").save()
            best = min(best or 9e9, time.perf_counter() - t0)
        spark.catalog.clearCache()
        rows.append((n, bits, cand, cand / n, best))
        print(
            f"n={n:>9,d}  bits={bits:2d}  candidates={cand:>11,d}"
            f"  cand/row={cand / n:6.2f}  wall={best:7.2f}s",
            flush=True,
        )

    print(f"\n{'pair':>22s} {'n-growth':>9s} {'cand-growth':>12s} "
          f"{'wall-growth':>12s} {'cand/row drift':>15s}")
    ok = True
    for (n0, b0, c0, r0, t0), (n1, b1, c1, r1, t1) in zip(rows, rows[1:]):
        ng, cg, tg, drift = n1 / n0, c1 / c0, t1 / t0, r1 / r0
        flag = ""
        # Occupancy is held ~constant by the rule, so candidates/row
        # must not grow materially across a size step (incl. the one
        # that crosses the 16-bit coordinate cap).
        if drift > 1.5 or tg > 2.0 * ng:
            ok, flag = False, "  <-- SUPER-LINEAR"
        print(
            f"{n0:>9,d}->{n1:<11,d} {ng:8.1f}x {cg:11.2f}x {tg:11.2f}x"
            f" {drift:14.2f}x{flag}"
        )
    shutil.rmtree(tmp, ignore_errors=True)
    boundary = [b for _, b, _, _, _ in rows]
    print(f"bits per size: {boundary} (cap {_PROJ_MAX_BITS}; "
          f"coordinate budget caps at 16)")
    if not ok:
        raise SystemExit("projected-LSH growth exceeded linear envelope")
    crossed = max(boundary) > 16
    print(
        "OK: ~flat candidates/row and ~linear wall-clock"
        + (
            " ACROSS the 16-bit coordinate-budget boundary"
            if crossed
            else " (sizes below the 16-bit boundary — smoke run only)"
        )
    )


if __name__ == "__main__":
    main()
