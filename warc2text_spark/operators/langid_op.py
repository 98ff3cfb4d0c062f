"""Per-language demux of Kernel 1's ``langs`` column.

Reference: the per-language demux (record.cc:291-298,
bilangwriter.cc:171-181).  Language identification itself runs inside
Kernel 1 (operators/extract.py), which returns the detector's
``{lang: chunk}`` as an ordered array<struct<lang,chunk>> (sorted by lang —
the reference's unordered_map emission order is nondeterministic, ours is
deterministic by construction); this module explodes it into
per-language rows for the partitioned write.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def explode_by_lang(df: DataFrame) -> DataFrame:
    """(record x lang) rows for the per-language demux (A3)."""
    ex = df.withColumn("lc", F.explode("langs")).drop("langs")
    return ex.withColumn("lang", F.col("lc.lang")) \
             .withColumn("chunk", F.col("lc.chunk")).drop("lc")
