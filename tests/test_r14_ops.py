"""Round-14 optimization regression tests.

Pins the behaviors the r14 optimization round changed:

- ``load_table_parallel`` sizing a DIRECTORY-backed parquet table from
  the sum of its part files (the r13 form read the directory inode size
  -> splits=1 -> unconditional round-robin repartition of the payload,
  the exact cluster-scale hazard the helper exists to avoid).
"""

from __future__ import annotations

import os

import pytest

from wiki_references_db_spark.tables import (
    _bytes_conf,
    _table_size_bytes,
    load_table,
    load_table_parallel,
)


@pytest.fixture(scope="module")
def dir_sf(spark, sf_dir, tmp_path_factory):
    """An sf_dir clone where ``documents.parquet`` is a DIRECTORY of
    part files (the normal cluster layout) instead of a single file."""
    root = tmp_path_factory.mktemp("dirsf")
    src = load_table(spark, sf_dir, "documents")
    out = os.path.join(str(root), "documents.parquet")
    src.repartition(4).write.parquet(out)
    return str(root)


def test_table_size_bytes_sums_directory_parts(dir_sf, sf_dir):
    path = os.path.join(dir_sf, "documents.parquet")
    assert os.path.isdir(path)
    total = _table_size_bytes(path)
    parts = [
        os.path.join(path, f)
        for f in os.listdir(path)
        if f.endswith(".parquet")
    ]
    assert len(parts) >= 2
    assert total == sum(os.path.getsize(p) for p in parts)
    # Same ballpark as the single-file layout (not an inode size).
    single = _table_size_bytes(os.path.join(sf_dir, "documents.parquet"))
    assert total > 0.2 * single


def _has_repartition(df) -> bool:
    return "Repartition" in df._jdf.queryExecution().logical().toString()


def test_load_table_parallel_directory_no_shuffle_when_splits_cover(
    spark, dir_sf
):
    """With a tiny maxPartitionBytes the directory's natural splits
    cover the cores, so the helper must be a no-op (no repartition) —
    the r13 form repartitioned ANY directory-backed table."""
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", "1k")
        df = load_table_parallel(spark, dir_sf, "documents")
        assert not _has_repartition(df)
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)


def test_load_table_parallel_small_table_still_repartitions(spark, sf_dir):
    """The local sub-core-count layout keeps the compute repartition
    (this is what parallelizes the per-row hash chains at tiny SF)."""
    par = spark.sparkContext.defaultParallelism
    df = load_table_parallel(spark, sf_dir, "documents")
    size = _table_size_bytes(os.path.join(sf_dir, "documents.parquet"))
    max_pb = _bytes_conf(
        spark, "spark.sql.files.maxPartitionBytes", 128 * 1024 * 1024
    )
    expect_noop = -(-size // max_pb) >= par
    assert _has_repartition(df) == (not expect_noop)


def test_load_table_parallel_directory_row_parity(spark, dir_sf, sf_dir):
    a = load_table_parallel(spark, dir_sf, "documents").count()
    b = load_table(spark, sf_dir, "documents").count()
    assert a == b


@pytest.mark.parametrize(
    "strategy,cap", [("join", None), ("fanout", None), ("fanout", 8)],
    ids=["join", "fanout", "fanout-capped"],
)
def test_same_key_pairs_match_brute_force(spark, strategy, cap):
    """``same_key_pairs`` against ``itertools.combinations`` per bucket.
    Under two keys (2 bands x bucket key): a 150-member hot bucket
    (more than PART_OCC, so the graded fan-out splits it into part-pair
    groups), a 10-member bucket holding a repeated member and a NULL
    member, a singleton bucket, and NULL-key rows.  Every unordered
    same-key pair must surface exactly once (a repeated member once per
    copy, never with itself), NULL keys and members never pair, and
    each payload lands on its own member's side.  ``cap`` only skips
    the grading, so the pairs are the same even where a bucket exceeds
    it."""
    import itertools
    from collections import defaultdict

    from wiki_references_db_spark.operators.pairs import PART_OCC, same_key_pairs

    assert 150 > PART_OCC
    members = (
        [(7, m) for m in range(150)]
        + [(9, m) for m in range(1000, 1010)]
        + [(9, 1003), (9, None), (11, 2000), (None, 3000), (None, 3001)]
    )
    rows = [
        (band, key, m, None if m is None else f"w{m}")
        for band in (0, 1)
        for key, m in members
    ]
    df = spark.createDataFrame(rows, "band int, key long, m long, w string")
    got = sorted(
        (r.band, r.key, r.m_a, r.m_b, r.w_a, r.w_b)
        for r in same_key_pairs(
            df, ["band", "key"], "m", payload=["w"], strategy=strategy, cap=cap
        ).collect()
    )
    buckets = defaultdict(list)
    for band, key, m, _ in rows:
        if key is not None and m is not None:
            buckets[(band, key)].append(m)
    want = sorted(
        (band, key, a, b, f"w{a}", f"w{b}")
        for (band, key), ms in buckets.items()
        for a, b in itertools.combinations(sorted(ms), 2)
        if a < b
    )
    assert len(want) == 2 * (150 * 149 // 2 + 10 * 9 // 2 + 9)
    assert got == want


def test_map_assign_matches_window_argmax(spark):
    """The r14 map-side argmax fold (_map_assign) must reproduce the
    r13 crossJoin + row_number window argmax exactly — including the
    (cosine DESC, cent_id ASC) tie-break — on a synthetic set with
    deliberate exact ties (duplicate centroids) and with the winning
    cosine value exposed."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from wiki_references_db_spark.queries.training import (
        _dot_expr,
        _map_assign,
        _norm_expr,
    )

    # 40 vectors in 4 dims; centroids 0..5 where cent 4 DUPLICATES
    # cent 2 (exact tie -> lowest cent_id must win).
    vecs = [
        (i, [float((i * 7 + d * 3) % 5 - 2) or 1.0 for d in range(4)])
        for i in range(40)
    ]
    e = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    cent_rows = [(c, vecs[c][1]) for c in range(4)] + [(4, vecs[2][1]), (5, vecs[3][1])]
    cents = spark.createDataFrame(
        cent_rows, "cent_id long, ce array<double>"
    ).select("cent_id", "ce", F.expr(_norm_expr("ce")).alias("nrm_c"))

    got = {
        r.vec_id: (r.cell, r.cosine)
        for r in _map_assign(e, cents, with_cosine=True).collect()
    }

    vc = (
        e.select(
            "vec_id",
            F.col("embedding").alias("ea"),
            F.expr(_norm_expr("embedding")).alias("nrm_v"),
        )
        .crossJoin(F.broadcast(cents))
        .select(
            "vec_id",
            "cent_id",
            (
                F.expr(_dot_expr("ea", "ce")) / (F.col("nrm_v") * F.col("nrm_c"))
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.col("cosine").desc(), F.col("cent_id")
    )
    want = {
        r.vec_id: (r.cent_id, r.cosine)
        for r in vc.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .collect()
    }
    assert got == want
    # The duplicate-centroid tie must resolve to the LOWER cent_id.
    assert got[2][0] == 2 and got[3][0] == 3
