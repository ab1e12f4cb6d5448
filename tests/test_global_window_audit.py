"""Audit of GLOBAL windows (``Window.orderBy`` with no partition /
``Window.partitionBy()``): each one forces a single-partition exchange,
so every surviving site must have a PROVABLY BOUNDED input.  This test
is the enforcement: any new global window fails until it is audited
(either bounded and added below, or rewritten onto the distributed
substrate — ``with_global_row_number`` in ``operators/stats.py``, or the bucketed-lead shape in
``events_id_gap_audit``).

Audit table (round 2) — input bound for every allowed site:

| site | input frame | bound |
|---|---|---|
| stats with_global_row_number offsets | per-bucket totals | PREFIX_BUCKETS (64) rows |
| stats with_global_row_number grand totals (r12 `wall`) | per-bucket totals | PREFIX_BUCKETS (64) rows |
| stats median_rank_select offsets (r3) | per-bucket counts | PREFIX_BUCKETS (64) rows |
| windows w_all percent_of_parent | (region, nation) aggregate | #region×#nation |
| windows rolling 7d revenue ×2 | daily grid | #days (calendar) |
| windows monthly cumsum | month grid | #months |
| windows cumulative vwap / drawdown | daily grid (1 month) | ≤31 rows |
| windows bollinger bands | daily grid | #days (calendar) |
| windows RSI-14 | daily grid | #days (calendar) |
| windows OBV lag + running sum | daily grid | #days (calendar) |
| windows seasonal-naive lag-7 | daily grid | #days (calendar) |
| aggregates cramers-v nn | contingency aggregate | #cat² |
| aggregates deciles / seasonal / waterfall w_all | 10/12/5-row aggregate | ≤12 rows |
| stats association nn | contingency aggregate | #cat² |
| stats seasonal MA + s_mean | bi-monthly bucket grid | #buckets |
| stats benford w | 9-digit aggregate | 9 rows |
| stats autocorr mu | hourly series | #hours |
| stats cusum running sum | daily grid | #days (calendar) |
| stats cusum argmax rank | daily grid | #days (calendar) |
| text vocab growth | decile grid | 10 rows |
| graph degree-dist p | degree histogram | #distinct degrees |
| events funnel share | step aggregate | #steps |
| events growth w(week) | weekly grid | #weeks |
| events conversion w_all | 1-row totals | 1 row |
| events hourly anomaly w(hour) | hourly grid | #hours |
| events abandonment share | 4-row outcome aggregate | 4 rows |
| events survival cumprod | event-day grid | #days |
| events id-gap handoff | per-bucket bounds | max_id / 2¹⁶ |
| pipeline w_all | source aggregate | #sources |
"""

from __future__ import annotations

import re
from pathlib import Path

OPERATORS = Path(__file__).parent.parent / "clickhouse_migrator_spark"

# (file, count of audited global-window sites)
ALLOWED = {
    "operators/windows.py": 11,
    "operators/aggregates.py": 4,
    "operators/stats.py": 10,
    "operators/text.py": 1,
    "operators/graph.py": 1,
    "operators/events.py": 7,
    "operators/pipeline.py": 1,
}

PATTERN = re.compile(r"Window\.orderBy\(|Window\.partitionBy\(\)")


def test_no_unaudited_global_windows():
    found: dict[str, int] = {}
    for py in OPERATORS.rglob("*.py"):
        n = 0
        for line in py.read_text().splitlines():
            code = line.split("#", 1)[0]
            if "``" in line:  # docstring mentions
                continue
            if PATTERN.search(code):
                n += 1
        if n:
            found[str(py.relative_to(OPERATORS))] = n
    assert found == ALLOWED, (
        "global-window sites changed; re-audit each new site's input "
        f"bound and update the table in this file.\nfound={found}\n"
        f"allowed={ALLOWED}"
    )
