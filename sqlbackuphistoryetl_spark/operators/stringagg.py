"""Deterministic string aggregation (SURVEY §2.4 A6/A7).

T-SQL STRING_AGG without WITHIN GROUP has nondeterministic order; the
reference relies on it for stripe lists and MOVE clauses
(sql:758-763,773-786,976-982,1085-1128). The engine makes order
deterministic — sort_array before concat — matching the intent of the
reference's ``order by physical_device_name`` inserts
(sql:611,668,1020); documented as an intentional strengthening
(SURVEY §2.11.5).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def sorted_string_agg(expr: Column | str, sep: str) -> Column:
    """Aggregate expression: concat_ws(sep, array_sort(collect_list(expr))).

    Use inside ``groupBy(...).agg(...)``; JVM-side, no UDF.
    """
    col = F.col(expr) if isinstance(expr, str) else expr
    return F.concat_ws(sep, F.array_sort(F.collect_list(col)))

