"""tools/plan_audit.py counts every Python boundary of a physical plan."""

import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))

from plan_audit import audit_plan  # noqa: E402


def test_audit_plan_counts_map_in_arrow(spark):
    """A mapInArrow plan prints MapInArrow; it is one Python node, as a
    mapInPandas plan's MapInPandas is."""
    df = spark.range(3)
    for mapped in (
        df.mapInArrow(lambda it: it, "id long"),
        df.mapInPandas(lambda it: it, "id long"),
    ):
        text = mapped._jdf.queryExecution().executedPlan().toString()
        assert audit_plan(text)["python_nodes"] == 1, text
    assert audit_plan("MapInArrow <lambda>(id#0L)#3, [id#4L], false\n")["python_nodes"] == 1
