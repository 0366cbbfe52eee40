"""Hypothesis tests from sufficient statistics.

The reference (tableone_pyspark.py:445-528) pulls entire analyzed
columns to the driver via ``toPandas`` and runs scipy on raw data. At
100 TB that is impossible; here every test consumes only the per-group
aggregates the engine already collected (k scalar rows). The tail
probabilities of those driver-side scalars come from ``core/special.py``
(regularized incomplete beta / gamma); scipy is never used.

Semantics preserved (SURVEY §2.8, Appendix):
  * 2 strat groups  -> Student's t-test, equal variance (NOT Welch;
    reference :463 uses scipy.stats.ttest_ind defaults)       [Q5 keep]
  * >2 strat groups -> one-way ANOVA (reference :467-473)
  * categorical     -> chi-square of the observed contingency table,
    MISSING analysis values excluded, MISSING strat kept, gate is
    "# non-missing rows >= 5" (NOT Cochran's rule; :503-505)   [Q7 keep]
  * <2 strat groups / <5 rows -> test_name "NOT DONE", NaN p   (:475-477,
    :514-516)
  * the MISSING strat group participates in every test          [Q8 keep]

Documented deviation [Q6]: the reference propagates NaN data into
scipy (NaN p-values whenever the column has NaN). We aggregate with
Spark, which skips nulls; true float NaN still poisons avg/variance,
so NaN-poisoned columns still yield NaN p-values, matching scipy.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

from tableone_pyspark_spark.core import special

NOT_DONE = ("NOT DONE", float("nan"), float("nan"))


@dataclass(frozen=True)
class GroupMoments:
    """Per-strat-group sufficient statistics for one continuous column."""

    n: int          # non-null count
    mean: float | None
    var: float | None  # sample variance (ddof=1); None when n < 2


def student_t_test(a: GroupMoments, b: GroupMoments) -> tuple[str, float, float]:
    """Equal-variance two-sample t from (n, mean, var) pairs.

    Matches scipy.stats.ttest_ind(a, b) (reference :463):
        sp2 = ((n1-1)v1 + (n2-1)v2) / (n1+n2-2)
        t   = (m1-m2) / sqrt(sp2*(1/n1+1/n2))
    Returns ("t-test", p, t).
    """
    n1, n2 = a.n, b.n
    if n1 < 1 or n2 < 1 or (n1 + n2) <= 2:
        return ("t-test", float("nan"), float("nan"))
    v1 = a.var if a.var is not None else float("nan")
    v2 = b.var if b.var is not None else float("nan")
    m1 = a.mean if a.mean is not None else float("nan")
    m2 = b.mean if b.mean is not None else float("nan")
    dof = n1 + n2 - 2
    sp2 = ((n1 - 1) * v1 + (n2 - 1) * v2) / dof
    denom = math.sqrt(sp2 * (1.0 / n1 + 1.0 / n2)) if sp2 == sp2 else float("nan")
    if denom != denom or denom == 0.0:
        return ("t-test", float("nan"), float("nan"))
    t = (m1 - m2) / denom
    return ("t-test", special.t_sf_two_sided(t, dof), t)


def one_way_anova(groups: list[GroupMoments]) -> tuple[str, float, float]:
    """One-way ANOVA F from per-group (n, mean, var).

    Matches scipy.stats.f_oneway (reference :471):
        SSB = Σ n_i (m_i - grand)^2 ;  SSW = Σ (n_i - 1) v_i
        F   = (SSB/(k-1)) / (SSW/(N-k))
    Returns ("ANOVA", p, F).
    """
    gs = [g for g in groups if g.n > 0]
    k = len(gs)
    n_total = sum(g.n for g in gs)
    if k < 2 or n_total <= k:
        return ("ANOVA", float("nan"), float("nan"))
    means = [g.mean if g.mean is not None else float("nan") for g in gs]
    grand = sum(g.n * m for g, m in zip(gs, means)) / n_total
    ssb = sum(g.n * (m - grand) ** 2 for g, m in zip(gs, means))
    ssw = sum((g.n - 1) * (g.var if g.var is not None else 0.0) for g in gs)
    dfn, dfd = k - 1, n_total - k
    msw = ssw / dfd
    if msw != msw or msw == 0.0:
        return ("ANOVA", float("nan"), float("nan"))
    f = (ssb / dfn) / msw
    return ("ANOVA", special.f_sf(f, dfn, dfd), f)


def continuous_test(groups: list[GroupMoments]) -> tuple[str, float, float]:
    """Dispatch per reference :455-477: 2 groups -> t-test, >2 -> ANOVA,
    otherwise NOT DONE. ``groups`` = one entry per distinct strat value
    observed in the data (including MISSING)."""
    if len(groups) == 2:
        return student_t_test(groups[0], groups[1])
    if len(groups) > 2:
        return one_way_anova(groups)
    return NOT_DONE


def chi_square(contingency: dict[tuple[str, str], int]) -> tuple[str, float, float]:
    """Chi-square independence test from observed (value, strat) counts.

    ``contingency`` maps (analysis_value, strat_value) -> count with
    MISSING analysis values already excluded. Replicates
    pd.crosstab + scipy.stats.chi2_contingency (reference :507-510):
    only *observed* rows/columns form the table (crosstab semantics),
    and scipy's default Yates continuity correction applies to 2x2.
    Gate (reference :503-505): total rows >= 5 else NOT DONE.
    """
    total = sum(contingency.values())
    if total < 5:
        return NOT_DONE
    rows = sorted({k[0] for k in contingency})
    cols = sorted({k[1] for k in contingency})
    if len(rows) < 2 or len(cols) < 2:
        # scipy raises on degenerate tables; reference would too — treat
        # as undefined test, matching a NaN outcome rather than crashing.
        return ("Chi-Square", float("nan"), float("nan"))
    obs = [[float(contingency.get((r, c), 0)) for c in cols] for r in rows]
    # Yates continuity correction on 2x2 (scipy's chi2_contingency default)
    row_tot = [sum(r) for r in obs]
    col_tot = [sum(obs[i][j] for i in range(len(rows))) for j in range(len(cols))]
    yates = len(rows) == 2 and len(cols) == 2
    stat = 0.0
    for i in range(len(rows)):
        for j in range(len(cols)):
            exp = row_tot[i] * col_tot[j] / total
            if exp == 0:
                continue
            d = abs(obs[i][j] - exp)
            if yates:
                d = max(0.0, d - 0.5)
            stat += d * d / exp
    dof = (len(rows) - 1) * (len(cols) - 1)
    return ("Chi-Square", special.chi2_sf(stat, dof), stat)
