""".mwrev.zst revision-bundle source.

Line protocol (reference:build_db.py:222-276):
- lines starting with ``#`` carry ``k=v`` metadata for a new revision
  (``page_id ns rev_id parent_rev_id timestamp``)
- lines starting with a single space are revision text (prefix stripped)
- all other lines are ignored

The protocol is stateful per file, so a file is one parse unit:
parallelism is across bundle files (exactly the reference's
subprocess-per-file model, reference:build_all.py:125-129).  Spark
surface: ``binaryFile`` scan -> ``mapInPandas(parse_bundle_batches)`` ->
DataFrame with the explicit RAW_REVISION schema.  The batch reader and
the streaming reader (streaming/ingest.py) share that one parser.

zstd framing is handled with pyarrow's codec (the ``zstandard`` module is
not available here; pyarrow emits/consumes standard zstd frames).
"""

from __future__ import annotations

import io
import os
from collections.abc import Iterator

import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import IntegerType, LongType

from wiki_references_db_spark.schemas import RAW_REVISION

_ZSTD = pa.Codec("zstd")

# Nullable pandas dtypes per RAW_REVISION column: a plain int column
# holding a None turns float64 and loses ids above 2**53.
_DTYPES = {
    f.name: {IntegerType(): "Int32", LongType(): "Int64"}.get(f.dataType, object)
    for f in RAW_REVISION.fields
}


def _decompress_zstd(data: bytes) -> bytes:
    # pyarrow's one-shot decompress needs the decompressed size for raw
    # frames; fall back to the streaming reader which does not.
    try:
        stream = pa.input_stream(pa.BufferReader(data), compression="zstd")
        return stream.read()
    except Exception:
        return _ZSTD.decompress(data)


def compress_zstd(data: bytes) -> bytes:
    buf = pa.BufferOutputStream()
    with pa.output_stream(buf, compression="zstd") as out:
        out.write(data)
    return buf.getvalue().to_pybytes()


def _parse_int(v: str | None) -> int | None:
    return int(v) if v else None


def parse_mwrev_text(text: str, source_bundle: str = "") -> Iterator[dict]:
    """Parse the decompressed line protocol into revision dicts."""
    current: dict | None = None
    text_lines: list[str] = []
    for raw_line in io.StringIO(text):
        if not raw_line:
            continue
        if raw_line.startswith("#"):
            if current is not None:
                current["revision_text"] = "\n".join(text_lines)
                yield current
            meta = {}
            for p in raw_line[1:].strip().split():
                if "=" in p:
                    k, v = p.split("=", 1)
                    meta[k.strip()] = v.strip()
            ts = (meta.get("timestamp") or "").replace("T", " ").replace("Z", "")
            current = {
                "page_id": _parse_int(meta.get("page_id")),
                "namespace_id": _parse_int(meta.get("ns")),
                "revision_id": _parse_int(meta.get("rev_id")),
                "parent_revision_id": _parse_int(meta.get("parent_rev_id")),
                "revision_timestamp": ts,
                "revision_text": "",
                "source_bundle": source_bundle,
            }
            text_lines = []
        elif raw_line.startswith(" "):
            text_lines.append(raw_line[1:].rstrip("\n"))
    if current is not None:
        current["revision_text"] = "\n".join(text_lines)
        yield current


def parse_mwrev_zst_bytes(data: bytes, source_bundle: str = "") -> Iterator[dict]:
    yield from parse_mwrev_text(
        _decompress_zstd(data).decode("utf-8"), source_bundle
    )


def parse_bundle_batches(
    batches: Iterator[pd.DataFrame], skip_corrupt: bool = False
) -> Iterator[pd.DataFrame]:
    """``mapInPandas`` body: (path, content) bundle batches -> one
    RAW_REVISION frame per bundle, so a batch never holds the revisions
    of all its bundles at once.  ``skip_corrupt`` drops each bundle that
    fails zstd/UTF-8 decode on its own; the rest of its batch survives."""
    for pdf in batches:
        for path, content in zip(pdf["path"], pdf["content"]):
            try:
                revs = list(parse_mwrev_zst_bytes(bytes(content), os.path.basename(path)))
            except (OSError, ValueError):  # zstd (pyarrow) or UTF-8 decode
                if not skip_corrupt:
                    raise
                continue
            yield pd.DataFrame(
                {c: pd.array([r[c] for r in revs], dtype=t) for c, t in _DTYPES.items()}
            )


def read_mwrev_bundles(
    spark: SparkSession, path_or_glob: str, skip_corrupt: bool = False
) -> DataFrame:
    """Scan a directory/glob of .mwrev.zst bundles into a raw-revision
    DataFrame.  Provenance is carried in ``source_bundle`` (S9,
    reference:models.py:363-380).

    ``skip_corrupt=True`` drops bundles that fail zstd/UTF-8 decode
    instead of failing the job — the PERMISSIVE mode for a 100 TB
    backfill where one damaged file must not kill a day-long run
    (default remains fail-fast so corruption is never silent)."""
    binary = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.mwrev.zst")
        .load(path_or_glob)
        .select("path", "content")
    )
    return binary.mapInPandas(
        lambda batches: parse_bundle_batches(batches, skip_corrupt), RAW_REVISION
    )


def write_mwrev_zst(path: str, revisions: list[dict]) -> None:
    """Fixture writer: serialize revision dicts into the bundle format
    (used by tests; the reference only ever consumes this format)."""
    lines = []
    for rev in revisions:
        meta = (
            f"#page_id={rev['page_id']} ns={rev.get('namespace_id', 0)} "
            f"rev_id={rev['revision_id']} "
            f"parent_rev_id={rev.get('parent_revision_id') or ''} "
            f"timestamp={rev['revision_timestamp']}"
        )
        lines.append(meta)
        for tl in rev.get("revision_text", "").split("\n"):
            lines.append(" " + tl)
    payload = ("\n".join(lines) + "\n").encode("utf-8")
    with open(path, "wb") as fh:
        fh.write(compress_zstd(payload))
