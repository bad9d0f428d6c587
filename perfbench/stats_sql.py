"""``stats_sql``: the paper's statistics flow, then relational queries.

One pass = the ``stats_pipeline`` pass (``fi`` and MICE requests over
the dirty CSV) followed by the ``sql_analytics`` pass (the relational
queries over the star schema). Together they cover ``sources.readers``,
``operators.*`` and ``plans.relational``.
"""

from __future__ import annotations

from sql_analytics import SqlAnalytics
from stats_pipeline import StatsPipeline
from workload import Composite


class StatsSql(Composite):
    name = "stats_sql"
    parts = (StatsPipeline, SqlAnalytics)


WORKLOAD = StatsSql
