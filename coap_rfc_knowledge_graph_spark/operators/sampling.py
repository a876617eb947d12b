"""Deterministic train/val/test split and stratified sampling
(training-side data prep).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


# --- deterministic web-scale split / stratified sampling -----------------------
#
# randomSplit re-rolls whenever partitioning changes — useless as a
# STABLE train/val/test assignment for a 10^12-document corpus that is
# re-read across jobs. These two assign by a hash draw on the row's
# identity: reproducible under any partitioning, any engine (the draw
# is a 60-bit md5 prefix, the same cross-engine-exact trick the native
# minhash uses), and incremental (new documents get a split without
# touching old ones). Zero shuffles — pure codegen projections.


def _hash_draw(col: "F.Column", mod: int) -> "F.Column":
    """Uniform integer draw in [0, mod) from the md5 of the column's
    string form — engine-exact (DuckDB mirror:
    ``CAST(concat('0x', substr(md5(x), 1, 15)) AS BIGINT) % mod``)."""
    return F.pmod(
        F.conv(F.substring(F.md5(col.cast("string")), 1, 15), 16, 10).cast("long"),
        F.lit(mod),
    )


def hash_split(
    df: DataFrame,
    id_col: str = "doc_id",
    weights: tuple[int, ...] = (80, 10, 10),
    labels: tuple[str, ...] = ("train", "val", "test"),
    out_col: str = "split",
) -> DataFrame:
    """Stable train/val/test assignment: draw = md5-hash(id) % sum(weights);
    the split is the weight bucket the draw falls in. Exact expected
    proportions in distribution, exactly reproducible row-by-row."""
    assert len(weights) == len(labels) and sum(weights) > 0
    total = sum(weights)
    d = _hash_draw(F.col(id_col), total)
    edge = 0
    expr = None
    for w, lab in zip(weights, labels):
        edge += w
        expr = F.when(d < edge, lab) if expr is None else expr.when(d < edge, lab)
    return df.withColumn(out_col, expr)


def stratified_exact_sample(
    df: DataFrame,
    strata_col: str,
    rates_permille: dict[str, int],
    id_col: str = "doc_id",
    default_permille: int = 0,
) -> DataFrame:
    """Per-stratum keep rates (e.g. language rebalancing: keep 1000‰ of
    the tail languages, 50‰ of English) via a deterministic per-row
    draw on (stratum, id) — the standard down-sampling step when mixing
    a web corpus to a target language/domain distribution. The draw key
    includes the stratum so re-running with a different rate for one
    stratum does not disturb the kept set of any other."""
    d = _hash_draw(F.concat_ws(":", F.col(strata_col), F.col(id_col).cast("string")), 1000)
    rate = None
    for k, v in sorted(rates_permille.items()):
        rate = F.when(F.col(strata_col) == k, v) if rate is None else rate.when(
            F.col(strata_col) == k, v
        )
    rate = F.lit(default_permille) if rate is None else rate.otherwise(default_permille)
    return df.filter(d < rate)
