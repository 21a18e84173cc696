"""Explicit hot-key salting (north rule: "partitioning / shuffle / skew
handled explicitly").

AQE's skew-join splitting handles skewed SHUFFLE partitions after the fact;
the north rule additionally demands explicit handling for known-hot cell
keys — geographic data is Zipfian (cities), so a handful of cells can carry
orders of magnitude more rows than the median and a single task would own
them.  The pattern here is classic two-sided salting:

  1. sketch key frequencies (one cheap aggregation, optionally on a sample);
  2. hot keys (count > hot_threshold) get a salt factor
     ceil(count / target_per_salt), capped;
  3. the PROBE side scatters each hot-key row to ONE random salt
     (key, salt=rand % factor);
  4. the BUILD side replicates each hot-key row to ALL salts;
  5. join on (key, salt) — hot keys now spread across `factor` tasks.

The salt map is tiny (only hot keys); steps 3 and 4 read it as one map
value through a scalar subquery.  The cell-index candidate join of
operators/spatial.py composes these steps itself.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["key_frequency_sketch", "salt_plan", "apply_salt_scatter",
           "apply_salt_replicate"]


def key_frequency_sketch(df: DataFrame, key: str, sample_frac: float | None = None) -> DataFrame:
    """(key, count) frequencies; sample_frac for a cheap approximate sketch
    at scale (counts scaled back up)."""
    src = df.sample(sample_frac, seed=42) if sample_frac else df
    counts = src.groupBy(key).agg(F.count(F.lit(1)).alias("key_count"))
    if sample_frac:
        counts = counts.withColumn(
            "key_count", (F.col("key_count") / sample_frac).cast("long")
        )
    return counts


def salt_plan(
    freq: DataFrame, key: str,
    hot_threshold: int = 100_000,
    target_per_salt: int = 50_000,
    max_factor: int = 64,
) -> DataFrame:
    """Hot keys -> salt factor.  Returned DF is small by construction (only
    keys above hot_threshold)."""
    return (
        freq.where(F.col("key_count") > hot_threshold)
        .select(
            F.col(key),
            F.least(
                F.ceil(F.col("key_count") / target_per_salt), F.lit(max_factor)
            ).cast("int").alias("salt_factor"),
        )
    )


def _salt_factor(key: str, plan: DataFrame):
    """Each row's salt factor: its hot key's factor, 1 for a cold key.  The
    salt map is read as ONE map<key, factor> value through a scalar
    subquery instead of a join: frames salted with the same map then share
    every exchange above them (a cached map scanned under an exchange
    would give each consumer its own adaptive stage, and none is reused)."""
    salt_map = plan.agg(F.map_from_entries(F.collect_list(
        F.struct(F.col(key), F.col("salt_factor"))))).scalar()
    return F.coalesce(F.try_element_at(salt_map, F.col(key)), F.lit(1))


def apply_salt_scatter(df: DataFrame, key: str, plan: DataFrame) -> DataFrame:
    """Probe side: hot-key rows get a uniform random salt in [0, factor);
    cold keys get salt 0.  Adds `__salt`."""
    f = _salt_factor(key, plan)
    return df.withColumn("__salt", (F.rand(seed=42) * f).cast("int"))


def apply_salt_replicate(df: DataFrame, key: str, plan: DataFrame) -> DataFrame:
    """Build side: hot-key rows are replicated once per salt; cold keys get
    the single salt 0.  Adds `__salt`."""
    f = _salt_factor(key, plan)
    return df.withColumn("__salt", F.explode(F.sequence(F.lit(0), f - 1)))
