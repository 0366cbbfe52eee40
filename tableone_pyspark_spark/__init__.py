"""tableone_pyspark_spark — a PySpark-native analytics engine.

A from-scratch, Spark-first re-implementation of the capabilities of
``charlesfcoombsiv/tableone_pyspark`` (reference at /root/reference,
``tableone_pyspark.py``): the batch Table 1 and ``streaming_tableone``.
The other modules (``functions/``, ``operators/``, most of ``sources/``
and ``streaming/``) are not on the Table 1 path and are being deleted.

Public API:
    tableone(df, col_to_strat="", cols_to_analyze=[...], beautify=False,
             p_values=False)  -> DataFrame
        Descriptive-statistics "Table 1" with the reference's exact
        output contract (reference tableone_pyspark.py:20-261), computed
        in O(1) passes over the data instead of O(16·V).

Design (vs. reference):
  * Sufficient statistics only: the engine reduces one pruned
    projection of the input to distinct-value cells and computes every
    count, moment and exact quartile from them on the driver. A small
    projection (size estimate at most ``core.sufficient.ROWS_ROUTE_BYTES``)
    comes to the driver once as Arrow rows, read by one task, bounded
    by ``cat_cells_limit``, and is grouped there, each continuous
    variable once, on a pool of driver threads that runs numpy only:
    the ``perfbench`` ``cohort_wide`` call runs 1 Spark job and no
    shuffle. A larger one
    runs one Spark aggregation (one melt of every analyzed variable and
    the strat counts, compressed to cells by one shuffle) and collects
    only the bounded cells: 2 Spark jobs with 1 input-scanning stage
    (reference pulls full columns via toPandas at :453/:500 and scans
    the input 16× per continuous variable at :325-437).
  * The returned table is built on the driver as an Arrow table: a
    ``LocalTableScan`` whose ``collect()`` runs no Spark job.
  * Hypothesis tests (t / ANOVA / chi-square) are computed from those
    same collected aggregates. Their tail probabilities come from the
    engine's own incomplete beta / gamma functions (``core/special.py``),
    never from scipy.
  * No ``repartition(1)`` (13 sites in the reference), no pandas
    round-trips, no per-stat joins.
"""

from tableone_pyspark_spark.core.engine import tableone, TableOneConfig
from tableone_pyspark_spark.core.memo import memo_clear


def tableone_pyspark(
    df,
    spark_session=None,
    col_to_strat: str = "",
    cols_to_analyze_list=None,
    beautify: bool = False,
    p_values: bool = False,
):
    """Drop-in compatibility shim with the reference's exact signature
    (``/root/reference/tableone_pyspark.py:20``) — same parameter names
    and order, so existing callers switch engines by changing only the
    import. ``spark_session`` is accepted and ignored (the session is
    taken from ``df``; the reference only used it to build driver-side
    literal frames)."""
    return tableone(
        df,
        col_to_strat=col_to_strat,
        cols_to_analyze=list(cols_to_analyze_list or []),
        beautify=beautify,
        p_values=p_values,
    )


__all__ = ["tableone", "tableone_pyspark", "TableOneConfig", "memo_clear"]
__version__ = "0.1.0"
