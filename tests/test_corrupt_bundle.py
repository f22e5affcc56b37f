"""Corrupt-input handling for the .mwrev.zst source: fail-fast by
default, skip-and-continue in permissive mode."""

import pytest
from pyspark.sql import functions as F

from wiki_references_db_spark.plans.stage import stage_revisions, write_staging
from wiki_references_db_spark.sources.mwrev import (
    read_mwrev_bundles,
    write_mwrev_zst,
)
from tests.test_wiki_pipeline import FIXTURE


def _bundles(tmp_path):
    bundles = tmp_path / "bundles"
    bundles.mkdir()
    write_mwrev_zst(str(bundles / "good.mwrev.zst"), FIXTURE[:5])
    (bundles / "bad.mwrev.zst").write_bytes(b"\x00not zstd at all\xff\xfe")
    return bundles


def test_corrupt_bundle_fails_fast_by_default(spark, tmp_path):
    bundles = _bundles(tmp_path)
    with pytest.raises(Exception):
        read_mwrev_bundles(spark, str(bundles)).count()


def test_corrupt_bundle_fails_write_staging(spark, tmp_path):
    """The concurrent staging writes still surface the parse failure:
    every table that reads the bundles fails, and the call raises."""
    staging = stage_revisions(read_mwrev_bundles(spark, str(_bundles(tmp_path))))
    out_dir = tmp_path / "staging"
    with pytest.raises(Exception):
        write_staging(staging, str(out_dir))
    assert not (out_dir / "citation_instances" / "_SUCCESS").exists()


@pytest.fixture
def one_scan_partition(spark):
    """Pack every bundle into one scan partition, so the parser sees all
    of them in one batch."""
    keys = ("spark.sql.files.openCostInBytes", "spark.sql.files.minPartitionNum")
    saved = {k: spark.conf.get(k, None) for k in keys}
    spark.conf.set(keys[0], "1")
    spark.conf.set(keys[1], "1")
    yield
    for k, v in saved.items():
        if v is None:
            spark.conf.unset(k)
        else:
            spark.conf.set(k, v)


@pytest.mark.parametrize(
    "bad, goods",
    [
        ("a-bad", ("b-good", "c-good")),  # sorted before the good bundles
        ("b-bad", ("a-good", "c-good")),  # sorted between two good bundles
    ],
    ids=["bad-first", "bad-between"],
)
def test_corrupt_bundle_skipped_in_permissive_mode(
    spark, tmp_path, one_scan_partition, bad, goods
):
    bundles = tmp_path / "bundles"
    bundles.mkdir()
    (bundles / f"{bad}.mwrev.zst").write_bytes(b"\x00not zstd at all\xff\xfe")
    write_mwrev_zst(str(bundles / f"{goods[0]}.mwrev.zst"), FIXTURE[:5])
    write_mwrev_zst(str(bundles / f"{goods[1]}.mwrev.zst"), FIXTURE[5:7])
    df = read_mwrev_bundles(spark, str(bundles), skip_corrupt=True)
    rows = df.select("*", F.spark_partition_id().alias("part")).collect()
    assert {r.part for r in rows} == {0}  # all three bundles in one batch
    assert {r.revision_id for r in rows} == {1001, 1002, 1003, 1004, 1005, 2001, 2002}
    assert {r.source_bundle for r in rows} == {f"{g}.mwrev.zst" for g in goods}
