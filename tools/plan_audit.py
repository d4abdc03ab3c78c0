"""Physical-plan audit — the ".explain and iterate" evidence.

Dumps `explain(formatted)` for the headline queries plus the extraction
pipeline and asserts the plan properties that matter at 100 TB:

* filters pushed into the parquet scan (`PushedFilters`),
* column pruning (`ReadSchema` carries only consumed columns),
* small dimension joins broadcast (`BroadcastHashJoin`),
* map-side partial aggregation (two `HashAggregate` nodes),
* the Python kernel is one Arrow stage fed by exactly one exchange,
* no row-at-a-time Python (`BatchEvalPython`) anywhere.

Writes PLANS.md and exits non-zero if any property fails.

Usage: python3 tools/plan_audit.py [sf_dir]
"""

from __future__ import annotations

import re
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

SF_DIR = "/root/testdata/sf0.01"


def fmt_plan(df) -> str:
    """formatted mode for human display."""
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")


_IDS = re.compile(r"(#|plan_id=)(\d+)")


def stable_ids(plan: str) -> str:
    """``plan`` with its expression ids (``#123``) and exchange plan ids
    (``plan_id=45``) renumbered from 1 in order of first appearance: the
    session-global counters behind them shift with every query run
    before, so raw ids would make every regenerated plan differ."""
    ids: dict = {}

    def renumber(m):
        kind = ids.setdefault(m.group(1), {})
        return m.group(1) + str(kind.setdefault(m.group(2), len(kind) + 1))

    return _IDS.sub(renumber, plan)


def simple_plan(df) -> str:
    """simple mode for property checks: one line per operator, `*(n)`
    prefixes mark whole-stage-codegen spans."""
    return df._jdf.queryExecution().executedPlan().toString()


CHECKS = {
    "tpch_q1": [
        ("filter pushed to scan", lambda p: "PushedFilters: [" in p
         and ("IsNotNull(l_shipdate)" in p.replace(" ", "")
              or "LessThanOrEqual(l_shipdate" in p.replace(" ", ""))),
        ("column pruning (no l_comment)", lambda p: "l_comment" not in p),
        ("map-side partial agg", lambda p: p.count("HashAggregate") >= 2),
        ("whole-stage codegen", lambda p: "*(" in p),
    ],
    "tpch_q3_topk": [
        ("broadcast small dim", lambda p: "BroadcastHashJoin" in p),
        ("segment filter pushed", lambda p: "c_mktsegment" in p.split(
            "PushedFilters", 1)[-1][:400] if "PushedFilters" in p else False),
        ("top-k not full sort", lambda p: "TakeOrderedAndProject" in p),
    ],
    "lookup_left_join": [
        ("broadcast lookup join", lambda p: "BroadcastHashJoin" in p),
    ],
    "dedup_exact": [
        ("map-side partial agg", lambda p: p.count("HashAggregate") >= 2),
    ],
    "events_tumbling_window": [
        ("pruned scan", lambda p: "props" not in p),
    ],
    "tpch_q5_region_revenue": [
        ("all dims broadcast", lambda p: p.count("BroadcastHashJoin") >= 3),
        ("region filter pushed", lambda p: "r_name" in p.split(
            "PushedFilters", 1)[-1] if "PushedFilters" in p else False),
    ],
    "tpch_q6_forecast": [
        ("range filters pushed", lambda p: "PushedFilters: [" in p
         and "l_shipdate" in p and "l_discount" in p),
        ("no join, single scan", lambda p: "Join" not in p),
    ],
    "tpch_q10_returns": [
        ("returnflag filter pushed", lambda p: "l_returnflag" in p.split(
            "PushedFilters", 1)[-1] if "PushedFilters" in p else False),
        ("top-k not full sort", lambda p: "TakeOrderedAndProject" in p),
    ],
    "sessionize_gaps_islands": [
        ("single shuffle feeds both windows + agg",
         lambda p: p.count("Exchange") <= 2),
        ("window over user partition", lambda p: "Window" in p),
    ],
    "dedup_minhash_lsh_buckets": [
        ("explode stays JVM-side", lambda p: "Generate" in p
         and "BatchEvalPython" not in p),
        ("join-free shingling (scan→project→agg only)",
         lambda p: "Join" not in _final_plan(p)),
    ],
    "dedup_minhash_signature": [
        ("join-free shingling (scan→project→agg only)",
         lambda p: "Join" not in _final_plan(p)),
        ("map-side partial agg", lambda p: "partial_min" in p),
    ],
    "dedup_ngram_jaccard": [
        ("pair-side verify equi-joins on doc_id",
         lambda p: ("HashJoin" in _final_plan(p)
                    or "SortMergeJoin" in _final_plan(p))),
    ],
    "dedup_apply_keep": [
        ("keeper application is an anti-join",
         lambda p: "LeftAnti" in _final_plan(p)),
    ],
    "tpch_q4_priority_semi": [
        ("EXISTS planned as semi join",
         lambda p: "LeftSemi" in _final_plan(p)),
        ("orderdate range pushed", lambda p: "o_orderdate" in p.split(
            "PushedFilters", 1)[-1] if "PushedFilters" in p else False),
    ],
    "tpch_q7_volume": [
        ("nation dims broadcast",
         lambda p: _final_plan(p).count("BroadcastHashJoin") >= 2),
        ("map-side partial agg", lambda p: p.count("HashAggregate") >= 2),
    ],
    "tpch_q14_promo": [
        ("part join broadcast", lambda p: "BroadcastHashJoin" in p),
        ("shipdate range pushed", lambda p: "l_shipdate" in p.split(
            "PushedFilters", 1)[-1][:600] if "PushedFilters" in p
         else False),
    ],
    "tpch_q15_top_supplier": [
        ("scalar max via subquery, no cartesian",
         lambda p: "Subquery" in p or "ReusedExchange" in p
         or "Join" in _final_plan(p)),
    ],
    "tpch_q16_supplier_cnt": [
        ("NOT IN planned as null-aware anti join",
         lambda p: "LeftAnti" in _final_plan(p)),
        ("size-list filter pushed", lambda p: "p_size" in p.split(
            "PushedFilters", 1)[-1] if "PushedFilters" in p else False),
    ],
    "tpch_q18_large_orders": [
        ("IN planned as semi join", lambda p: "LeftSemi" in
         _final_plan(p)),
        ("top-k not full sort", lambda p: "TakeOrderedAndProject" in p),
    ],
    "tpch_q19_brackets": [
        ("part join broadcast", lambda p: "BroadcastHashJoin" in p),
        ("disjunct prefilter reaches lineitem scan",
         lambda p: "l_quantity" in p.split("PushedFilters", 1)[-1]
         if "PushedFilters" in p else False),
    ],
    "tpch_q22_idle_rich": [
        ("NOT EXISTS planned as anti join",
         lambda p: "LeftAnti" in _final_plan(p)),
        ("map-side partial agg", lambda p: p.count("HashAggregate") >= 2),
    ],
}

PIPELINE_CHECKS = [
    ("one Arrow python stage", lambda p: "MapInArrow" in p),
    ("no per-row Python", lambda p: "BatchEvalPython" not in p),
    ("exactly one exchange (salt shuffle)",
     lambda p: p.count("Exchange") == 1),
    ("payload column pruned to spans+doc_id",
     lambda p: "ReadSchema" in p),
]

# BroadcastNestedLoopJoin is a scale-killer EXCEPT when the build side is a
# known-tiny relation by construction — each allowance names the relation
# and caps the count.
BNL_ALLOWED = {
    "ann_cosine_topk": (1, "cross join against the single query-vector row"),
    "ann_ivf_topk": (3, "16-row sampled codebook + 1-row query vector"),
    "ann_ivf_kmeans_topk":
        (9, "4 Lloyd/assign passes against the ≤16-row codebook + 1-row "
            "query vector; CTE inlining re-expands the final assign "
            "subtree under both cells and qprobe (build sides all tiny)"),
    "ann_pq_adc_topk":
        (49, "8 subspaces × (3 Lloyd/assign passes vs a 16-row codebook "
             "+ 1-row query-slice LUT join) + the final 1-row query "
             "re-rank; every build side is ≤16 rows by construction — "
             "PQ training IS tiny-side passes, the corpus never "
             "self-joins"),
    "tfidf_top_terms": (1, "cross join against the 1-row corpus-size agg"),
    "text_lm_logprob": (1, "cross join against the 1-row token-total agg"),
}


def _final_plan(p: str) -> str:
    """AQE executed-plan dumps append an '== Initial Plan ==' section —
    count operators in the FINAL plan only."""
    return p.split("== Initial Plan ==", 1)[0]


def universal_checks(name: str):
    """Scale-safety floor asserted for EVERY registry query."""
    bnl_cap, bnl_why = BNL_ALLOWED.get(name, (0, None))
    label = ("no BroadcastNestedLoopJoin" if bnl_why is None
             else f"BNL only vs tiny sides (≤{bnl_cap}: {bnl_why})")
    return [
        ("no CartesianProduct",
         lambda p: "CartesianProduct" not in _final_plan(p)),
        (label, lambda p: _final_plan(p).count(
            "BroadcastNestedLoopJoin") <= bnl_cap),
        ("no per-row Python", lambda p: "BatchEvalPython" not in p),
    ]


def main() -> int:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    profile = "cluster" if "--profile=cluster" in sys.argv[1:] \
        or "--cluster" in sys.argv[1:] else None
    sf_dir = args[0] if args else SF_DIR

    from unfurl_spark.operators.pipeline import extract_spans, session
    from unfurl_spark.operators.queries import QUERIES

    # --cluster: audit under the deployment config profile (256 MB
    # splits, compressed shuffle, skew-join on) — plan SHAPES must match
    # the sandbox profile; only scan split sizing may differ
    spark = session(app="plan_audit", master="local[8]", profile=profile)
    spark.sparkContext.setLogLevel("ERROR")
    if profile == "cluster":
        print("auditing under profile=cluster "
              f"(maxPartitionBytes={spark.conf.get('spark.sql.files.maxPartitionBytes')})")

    sections: list[str] = [
        "# PLANS — physical-plan audit (`tools/plan_audit.py`)\n",
        "Asserted properties per query; full `explain(formatted)` output "
        "below each.\nRegenerate with `python3 tools/plan_audit.py` "
        "(add `--cluster` for the deployment config profile).\n",
        f"\nAudited under `session(profile=\""
        f"{'cluster' if profile == 'cluster' else 'local'}\")` — r5 "
        "verified the shapes are identical across both profiles at "
        "sf0.01 (only scan split sizing differs).\n",
    ]
    failures: list[str] = []

    # every registry query gets the universal scale-safety checks; the
    # headline queries in CHECKS additionally get their named plan
    # properties and their full formatted plan in the appendix
    summary_rows: list[str] = []
    detail_sections: list[str] = []
    for name, (fn, _sql) in QUERIES.items():
        checks = universal_checks(name) + CHECKS.get(name, [])
        df = fn(spark, sf_dir)
        df.collect()                  # AQE: codegen marks appear in the
        plan = simple_plan(df)        # FINAL plan only; checks run on the
        rows = []
        n_fail = 0
        for label, pred in checks:
            ok = False
            try:
                ok = bool(pred(plan))
            except Exception:  # noqa: BLE001 — a check crash is a failure
                ok = False
            rows.append(f"| {label} | {'PASS' if ok else 'FAIL'} |")
            if not ok:
                n_fail += 1
                failures.append(f"{name}: {label}")
        summary_rows.append(
            f"| {name} | {len(checks) - n_fail}/{len(checks)} | "
            f"{'PASS' if n_fail == 0 else 'FAIL'} |")
        if name in CHECKS:
            shown = stable_ids(fmt_plan(df))  # one-node-per-line form
            detail_sections.append(
                f"\n## {name}\n\n| property | status |\n|---|---|\n"
                + "\n".join(rows)
                + f"\n\n```\n{shown.strip()}\n```\n")

    sections.append(
        "\n## All registry queries — scale-safety floor\n\n"
        "Universal per-query asserts: no CartesianProduct, no "
        "BroadcastNestedLoopJoin (beyond the named tiny-side allowances), "
        "no per-row Python.  Headline queries carry extra named "
        "properties (detailed below).\n\n"
        "| query | checks passed | status |\n|---|---|---|\n"
        + "\n".join(summary_rows) + "\n")
    sections.extend(detail_sections)

    import tempfile

    from unfurl_spark.sources.synthetic import write_corpus

    with tempfile.TemporaryDirectory() as td:
        corpus = write_corpus(td, 50, seed=42)
        docs = spark.read.parquet(corpus["documents_raw"])
        out = extract_spans(docs)
        plan = simple_plan(out)
        shown = stable_ids(fmt_plan(out)).replace(td, "<tmp>")
    rows = []
    for label, pred in PIPELINE_CHECKS:
        ok = bool(pred(plan))
        rows.append(f"| {label} | {'PASS' if ok else 'FAIL'} |")
        if not ok:
            failures.append(f"extract_spans: {label}")
    sections.append(
        "\n## extract_spans (fused Arrow pipeline)\n\n"
        "| property | status |\n|---|---|\n" + "\n".join(rows)
        + f"\n\n```\n{shown.strip()}\n```\n")

    (REPO / "PLANS.md").write_text("\n".join(sections))
    spark.stop()
    if failures:
        print("FAILED properties:")
        for f in failures:
            print(" -", f)
        return 1
    from unfurl_spark.operators.queries import QUERIES as _Q
    print(f"all plan properties pass; PLANS.md written "
          f"({len(_Q)} queries audited, {len(CHECKS) + 1} detailed plans)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
