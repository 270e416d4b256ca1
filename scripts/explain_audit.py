#!/usr/bin/env python
"""Plan-hygiene audit: .explain("formatted") for key operators, with
assertions on the physical properties that matter at 100 TB —
predicate pushdown reaching the parquet scan, broadcast-hash joins for
dimension/config tables, whole-stage codegen coverage, and absence of
needless exchanges.

Usage: python scripts/explain_audit.py [sf_dir]  (prints a PASS/FAIL
summary; exits non-zero on any failed expectation).
"""

from __future__ import annotations

import io
import sys
from contextlib import redirect_stdout

sys.path.insert(0, ".")

import __spark_entry__ as E  # noqa: E402
from horseman_article_parser_spark.session import get_spark  # noqa: E402


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


# query -> list of (must_contain, why)
EXPECTATIONS = {
    # frontier slice must push seq bounds into the scan... the frontier
    # is synthesized from documents, so the filter lands on the project;
    # the scan must at least prune to the two referenced columns.
    # (codegen ids are not visible in pre-execution AQE formatted plans,
    # so codegen coverage is asserted structurally: pure-projection
    # queries must be exchange-free — see FORBIDDEN.)
    # seen anti-join: the seen side is small -> broadcast, not SMJ
    "seen_antijoin": [
        ("BroadcastHashJoin", "small seen-table must broadcast"),
    ],
    # domain rules: config table must broadcast; the suffix match is a
    # theta join, so the legal physical forms are BroadcastHashJoin
    # (equi part) or BroadcastNestedLoopJoin (tiny build side)
    "domain_rules_join": [
        ("Broadcast", "rules table must broadcast, never shuffle the frontier"),
    ],
    # sentiment: per-doc lexicon sum is per-row work — one Arrow kernel
    # pass (r6; the declarative explode→broadcast-join twin stays
    # parity-pinned in test_textstats)
    "sentiment": [
        ("MapInPandas", "per-doc lexicon sum runs in the Arrow kernel"),
    ],
    "text_quality": [
        ("MapInPandas", "per-doc stats run in the Arrow kernel"),
    ],
    # keywords/keyphrases: the Arrow kernel path — per-doc TF top-k is
    # per-row work, so the plan must be one MapInPandas over the scan
    "keywords_topk": [
        ("MapInPandas", "per-doc top-k runs in the Arrow kernel"),
    ],
    # minhash (folded into minhash_lsh): per-doc signatures are per-row
    # work — one Arrow kernel pass, no explode/aggregate (r6; the
    # declarative plan stays parity-pinned in test_dedup)
    "minhash_lsh": [
        ("MapInPandas", "per-doc signatures run in the Arrow kernel"),
    ],
    # pricing summary: partial agg + single shuffle
    "pricing_summary": [
        ("HashAggregate", "hash aggregation with map-side partials"),
        ("partial_", "map-side partial aggregation"),
    ],
    # top-k per customer: window after a single shuffle
    "top_orders_per_customer": [
        ("Window", "ranking window"),
    ],
}

FORBIDDEN = {
    "extract_title": [
        ("SortMergeJoin", "tiny synth join must broadcast, not SMJ"),
    ],
    # robots resolution is a broadcast join + higher-order functions:
    # the frontier side must never exchange (the old plan re-shuffled
    # candidates x rules through a per-url window every round). The one
    # allowed Exchange is the tiny rules-side groupBy(host) — asserted
    # separately in main().
    # robots: the driver query now includes the robots.txt PARSE chain,
    # whose host-keyed windows/joins are correct at scale (robots bodies
    # are per-host; broadcasting host-cardinality state would be wrong).
    # The evaluation-side expectations are asserted separately in main()
    # on an isolated robots_filter plan with pre-parsed rules.
    # positional slice must TakeOrdered, never rank the whole frontier
    # through one task
    "frontier_slice": [
        ("Window", "no partition-less window over the frontier"),
    ],
}

# Per-row plans: the ONLY exchange allowed is _load's input fan-out for
# degenerate single-row-group test parquet (absent at production
# layouts). r6: the fan-out spreads by HASHING the table's natural
# unique key (guide §2.5 — deterministic spread key, no
# sort-before-repartition), so the check is an exchange COUNT bound
# plus a key check: every exchange present must be hashpartitioning on
# exactly the input table's E._SPREAD_KEYS. A second exchange of any
# kind, or one shuffle on any other key, is the regression (the old
# explode → hash-agg → window keywords shape paid two; per-row
# predicates/transforms need none beyond the spread).
# name -> (input table, allowed exchange count); url_filters unions two
# independent scan branches, so it carries one fan-out per branch
MAX_EXCHANGES = {
    "url_filters": ("documents", 2),
    "url_transforms": ("documents", 1),
    "keywords_topk": ("documents", 1),
}


def _exchange_keys(plan: str) -> list[list[str] | None]:
    """Partitioning columns of each Exchange in a formatted plan, in
    plan order: the hashpartitioning key names (expression ids
    stripped), or None for any other partitioning."""
    import re

    out: list[list[str] | None] = []
    for m in re.finditer(r"\(\d+\) Exchange\b[\s\S]*?Arguments: (.*)", plan):
        hp = re.match(r"hashpartitioning\((.*?), \d+\)", m.group(1))
        out.append(None if hp is None else
                   [re.sub(r"#\d+L?$", "", k) for k in hp.group(1).split(", ")])
    return out


def _partitionless_windows(plan: str) -> list[str]:
    """Window operators whose partition spec is empty — the
    single-partition scale-killer. Formatted plans print windows as
    'Arguments: [exprs], [partition-cols], [order]'."""
    import re

    hits = []
    for m in re.finditer(r"\(\d+\) Window\b[\s\S]*?Arguments: (.*)", plan):
        args = m.group(1)
        if re.search(r"\], \[\], \[", args):
            hits.append(args[:120])
    return hits


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("explain-audit")
    spark.sparkContext.setLogLevel("ERROR")
    queries = E.queries()
    failures = 0
    for name, expects in EXPECTATIONS.items():
        plan = plan_of(queries[name](spark, sf_dir))
        for needle, why in expects:
            ok = needle in plan
            print(f"{'PASS' if ok else 'FAIL'} {name}: expect '{needle}' ({why})")
            failures += 0 if ok else 1
    for name, forbids in FORBIDDEN.items():
        plan = plan_of(queries[name](spark, sf_dir))
        for needle, why in forbids:
            ok = needle not in plan
            print(f"{'PASS' if ok else 'FAIL'} {name}: forbid '{needle}' ({why})")
            failures += 0 if ok else 1
    for name, (table, cap) in MAX_EXCHANGES.items():
        keys = _exchange_keys(plan_of(queries[name](spark, sf_dir)))
        spread = E._SPREAD_KEYS[table]
        ok = len(keys) <= cap and all(k == spread for k in keys)
        print(f"{'PASS' if ok else 'FAIL'} {name}: at most {cap} exchange(s), "
              f"each the {table} spread on {spread} (found {keys})")
        failures += 0 if ok else 1
    # robots EVALUATION in isolation (pre-parsed rules, the per-round
    # hot path): frontier side shuffle-free — the only Exchange allowed
    # is the tiny rules-side groupBy(host); no per-url window, no SMJ.
    import re as _re

    import pyspark.sql.functions as _F

    from horseman_article_parser_spark.operators import politeness as _PO

    _cand = spark.createDataFrame(
        [(f"https://h{i % 7}.example/p/{i}", f"h{i % 7}.example")
         for i in range(200)],
        "url string, host string",
    )
    _rules = spark.createDataFrame(
        [("h0.example", "disallow", "/p", 1000)],
        "host string, rule_type string, path_prefix string, crawl_delay_ms int",
    )
    plan = plan_of(_PO.robots_filter(_cand, _rules))
    n_shuffle = len(_re.findall(r"\(\d+\) Exchange\b", plan))
    ok = (n_shuffle <= 1 and "BroadcastHashJoin" in plan
          and "SortMergeJoin" not in plan
          and not _partitionless_windows(plan))
    print(f"{'PASS' if ok else 'FAIL'} robots_filter(eval): frontier side "
          f"shuffle-free (shuffle exchanges={n_shuffle}, rules-side only; "
          f"no SMJ/window)")
    failures += 0 if ok else 1
    # full driver query (parse chain included): the frontier join must
    # still be a broadcast-hash join and no partition-less window may
    # appear anywhere (the parser's windows are host-keyed)
    plan = plan_of(queries["robots_filter"](spark, sf_dir))
    ok = "BroadcastHashJoin" in plan and not _partitionless_windows(plan)
    print(f"{'PASS' if ok else 'FAIL'} robots_filter(full): parse chain keeps "
          f"the frontier join broadcast + all windows host-keyed")
    failures += 0 if ok else 1
    # NO partition-less windows anywhere in the frontier/crawl queries:
    # row_number() over an un-partitioned window funnels the whole input
    # through one task — the textbook 10^10-row scale-killer.
    for name in ("frontier_uniq", "frontier_unique_by_host", "frontier_wave0",
                 "frontier_slice", "politeness_budget", "robots_filter",
                 "seen_antijoin", "round_robin_interleave"):
        hits = _partitionless_windows(plan_of(queries[name](spark, sf_dir)))
        ok = not hits
        print(f"{'PASS' if ok else 'FAIL'} {name}: no partition-less window"
              + ("" if ok else f" -> {hits[0]}"))
        failures += 0 if ok else 1
    # column pruning spot check: text_quality must read ONLY doc_id+text
    plan = plan_of(queries["text_quality"](spark, sf_dir))
    pruned = "ReadSchema" in plan and "lang" not in plan.split("ReadSchema", 1)[1][:400]
    print(f"{'PASS' if pruned else 'FAIL'} text_quality: scan prunes unused columns")
    failures += 0 if pruned else 1
    print(f"\n{failures} failed expectations")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
