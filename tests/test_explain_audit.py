"""The plan audit's exchange check reads partitioning keys from real
formatted plans: only a hash spread on the table's _SPREAD_KEYS counts
as the allowed input fan-out."""

import importlib.util
from pathlib import Path

_spec = importlib.util.spec_from_file_location(
    "explain_audit", Path(__file__).resolve().parents[1] / "scripts" / "explain_audit.py")
audit = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(audit)


def test_exchange_keys_names_the_partitioning(spark):
    df = spark.createDataFrame(
        [(1, 2, "a"), (3, 4, "b")], "l_orderkey long, l_linenumber int, text string")
    keys = audit._exchange_keys

    assert keys(audit.plan_of(df.select("text"))) == []
    assert keys(audit.plan_of(df.repartition(4, "l_orderkey", "l_linenumber"))) == [
        audit.E._SPREAD_KEYS["lineitem"]]
    assert keys(audit.plan_of(df.repartition(4, "text"))) == [["text"]]
    assert keys(audit.plan_of(df.repartition(4))) == [None]
    # a spread followed by a shuffle on another key lists both
    two = df.repartition(4, "l_orderkey", "l_linenumber").groupBy("text").count()
    got = keys(audit.plan_of(two))
    assert audit.E._SPREAD_KEYS["lineitem"] in got and ["text"] in got
