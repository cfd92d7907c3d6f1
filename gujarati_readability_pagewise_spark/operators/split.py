"""Leakage-free grouped train/test split (SURVEY.md §1.2, §2.7 U1).

The reference keeps all pages of one book in one split
(``/root/reference/data/train_test_split_page_level.json``
``data_leakage_prevention.method: "book_level_splitting"``, seed=42).
The graft's grouping key is the url host.  Stratified+seeded means the split
must be a **pure function of the key** — ``rand()`` would differ between
task retries — so we hash the host with xxhash64 and bucket the hash:
hosts with ``pmod(xxhash64(host), 5) < 1`` → test (~20 %, the reference's
``test_size_ratio: 0.2``), rest → train.  Disjointness is structural:
no host can straddle splits.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = ["host_of", "split_expr", "with_split"]

SPLIT_SEED = 42
TEST_BUCKETS = 1   # of 5 → 20 % of hosts
N_BUCKETS = 5


def host_of(url: Column) -> Column:
    """Grouping key: the url host (reference's `Book Name` analogue, F1)."""
    return F.parse_url(url, F.lit("HOST"))


def split_expr(url: Column) -> Column:
    h = F.pmod(F.xxhash64(host_of(url), F.lit(SPLIT_SEED)), F.lit(N_BUCKETS))
    return F.when(h < TEST_BUCKETS, F.lit("test")).otherwise(F.lit("train"))


def with_split(df: DataFrame, url_col: str = "url") -> DataFrame:
    return df.withColumn("split", split_expr(F.col(url_col)))

