"""Spark UDF surface for the wikitext layer.

The extractor is the engine's only irreducible Python logic (SURVEY §2.10).
It runs as Arrow-batched pandas UDFs — never row-at-a-time Python:

- ``make_extract_references_udf(domain)``: revision_text -> array<struct>
  of extracted references under the domain's section/template config
  (a UDTF in DataFrame terms; follow with ``explode``)
- ``normalize_wikitext_udf``: scalar normalizer
- ``sha1_hex_udf`` is NOT needed: content hashing uses the built-in
  ``F.sha1`` (JVM-side) on the UDF outputs.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql.functions import pandas_udf

from wiki_references_db_spark.functions.extract import extract_references
from wiki_references_db_spark.functions.wikitext import normalize_wikitext
from pyspark.sql.types import StringType

from wiki_references_db_spark.schemas import EXTRACTED_REFERENCES


def make_extract_references_udf(domain: str):
    """Extractor UDF bound to a wiki domain's section/template config."""

    @pandas_udf(EXTRACTED_REFERENCES)
    def _udf(texts: pd.Series) -> pd.Series:
        return texts.map(
            lambda t: extract_references(t, include_offsets=True, domain=domain)
        )

    return _udf


@pandas_udf(StringType())
def normalize_wikitext_udf(texts: pd.Series) -> pd.Series:
    return texts.map(normalize_wikitext)
