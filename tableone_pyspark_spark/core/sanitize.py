"""Stratification-column cleaning and pivot-column ordering.

Semantics from the reference (tableone_pyspark.py):
  * nulls -> literal "MISSING" category            (:90, :172)
  * spaces -> "_"                                  (:91, :173)
  * non-ASCII runs -> "?"                          (:92, :174)
  * pivot column order: sorted ascending, then "Yes" first, "No"
    second, "MISSING" last                          (:100-115)

Deviation (SURVEY Appendix Q11): the reference's string-fillna on a
*numeric* strat column silently no-ops; the engine casts the strat
column to string first (in Spark) so null handling is defined for every
input type, and cleans each distinct cast value on the driver.
"""

from __future__ import annotations

MISSING = "MISSING"


def sanitize_value(v) -> str:
    """A strat value as an output column name (values become column
    names): None -> "MISSING", spaces -> "_", each run of non-ASCII
    characters -> "?" (reference tableone_pyspark.py:89-92)."""
    if v is None:
        return MISSING
    s = str(v).replace(" ", "_")
    out, in_run = [], False
    for ch in s:
        if ord(ch) < 128:
            out.append(ch)
            in_run = False
        elif not in_run:
            out.append("?")
            in_run = True
    return "".join(out)


def order_strat_values(values) -> list[str]:
    """Pivot-column order: sorted asc; "Yes" before "No" at the front;
    "MISSING" last (reference tableone_pyspark.py:100-115).

    The reference iterates the sorted list and *prepends* "No" then
    "Yes" (so "Yes" ends up first), appends everything else, then
    appends "MISSING" if present.
    """
    ordered = sorted(set(values))
    front: list[str] = []
    rest: list[str] = []
    for c in ordered:
        if c in ("No", "Yes"):
            front = [c] + front
        elif c != MISSING:
            rest.append(c)
    if MISSING in ordered:
        rest.append(MISSING)
    return front + rest


def category_order_key(value: str) -> int:
    """Within-variable category ordering ladder (reference :294-298).

    Yes=1, No=2, MISSING=6, missing/unknown/other-like=5, else 3;
    ties broken by the value itself (ascending).
    """
    if value == "Yes":
        return 1
    if value == "No":
        return 2
    if value == MISSING:
        return 6
    low = value.lower() if value is not None else ""
    if ("missing" in low) or ("unknown" in low) or ("other" in low):
        return 5
    return 3
