"""Automated docstring-vs-plan audit (r11 verdict #6).

The manual checklist step that caught the r9 Q21 shuffle overclaim and
the r10 vacuous plan test, scripted: a declarative claims table maps
query names to plan-shape assertions lifted from their docstrings
(no-Expand, broadcast join present, TakeOrderedAndProject top-k,
bounded hash-shuffle count), each query's formatted physical plan is
built live (tools/harness.formatted_plan), and any mismatch is a
nonzero exit. Run by tools/gate.sh. It checks only what CLAIMS encodes,
so a query added or changed with a plan claim in its docstring needs a
CLAIMS row here.

The headline plans it builds are also written to PLANS.md, in HEADLINE
order — the artifact for reviewing scan pruning (ReadSchema/
PushedFilters), join strategies, exchange counts and codegen coverage
without re-running anything.

Two layers:
- GLOBAL invariants over every headline query: no CartesianProduct
  (outside the documented all-pairs allowlist) and no row-at-a-time
  BatchEvalPython — the two plan shapes that are never acceptable in
  a hot path at 100 TB.
- CLAIMS: per-query assertions. Counting rule for shuffles: only
  `Exchange` tree nodes whose Arguments are hashpartitioning count
  toward max_hash_exchanges (rangepartitioning for deterministic
  output order and SinglePartition for bounded aggregates are not the
  scale-relevant shuffles the docstrings talk about).

Usage: python tools/plan_audit.py [sf_dir]
"""

from __future__ import annotations

import re
import sys

sys.path.insert(0, ".")

from bench import HEADLINE
from dataframe_retail_e_inventarios_spark.registry import queries
from dataframe_retail_e_inventarios_spark.session import get_spark
from tools.harness import formatted_plan

# Queries whose plans legitimately contain a cartesian/broadcast-nested
# -loop product: broadcast 1-row aggregates (the repo-standard scalar
# crossJoin) show up as BroadcastNestedLoopJoin, which is fine — the
# global invariant bans CartesianProduct (both sides distributed) only.
CARTESIAN_ALLOWED: set[str] = set()

# name -> list of (check, arg) assertions. Every entry cites the
# docstring whose claim it encodes; keep the two in sync when a plan
# changes — that is the point of the audit.
CLAIMS: dict[str, list[tuple[str, object]]] = {
    # flagship.py:23 "top-k via row_number, no global sort" +
    # flagship.py:148 TakeOrderedAndProject partial heaps.
    "flagship_inventory": [
        ("contains", "TakeOrderedAndProject"),
        ("absent", "Expand"),
    ],
    # queries_scale.py:985 "the Expand-free HLL profile" (r10 verdict
    # #3 reshape: per-column pruned scans, no multi-distinct Expand).
    "profile_lineitem_columns_approx": [("absent", "Expand")],
    "profile_lineitem_columns": [("absent", "Expand")],
    # queries_relational.py:652 "TakeOrderedAndProject — per-partition
    # heaps, no global sort".
    "returned_item_losses": [("contains", "TakeOrderedAndProject")],
    # queries_relational.py:~1468 "One exchange for the whole
    # qualification" (the r9 overclaim, now continuously checked):
    # exchange 1 = the REPARTITION_BY_NUM(l_orderkey) that serves the
    # pair aggregate AND both order windows; exchange 2 is the final
    # supplier rollup of already-aggregated rows. Max 2 total.
    "waiting_supplier_count": [("max_hash_exchanges", 2)],
    # queries_relational.py q_rank_family: two shuffles by design —
    # partial-agg on (suppkey, partkey), then the window exchanges the
    # ~6x-smaller aggregated rows on suppkey (docstring updated r12).
    "window_rank_family": [("max_hash_exchanges", 2)],
    # queries_scale.py q_window_value_family: same two-stage shape.
    "window_value_family": [("max_hash_exchanges", 2)],
    # queries_stats.py welch t-test (r12 fix): the 5-row moment
    # aggregate materializes once and the pair theta-join broadcasts —
    # never CartesianProduct, never a second orders scan.
    "welch_ttest_price_segments": [
        ("absent", "CartesianProduct"),
        ("contains", "BroadcastNestedLoopJoin"),
    ],
    # queries_mining.py:406-411 "broadcast dimension enrichment ...
    # the plan a Q2 should have".
    "min_cost_supplier_per_part": [("contains", "BroadcastHashJoin")],
    # queries_corpus.py:488 "TakeOrderedAndProject — never a global
    # window, and a broadcast [vocab] — broadcast stays the right side".
    "tokenizer_oov_rate": [
        ("contains", "TakeOrderedAndProject"),
        ("contains", "BroadcastHashJoin"),
    ],
    # queries_corpus.py:994 "TakeOrderedAndProject — never a full-vocab
    # single-partition [window]".
    "vocab_coverage_curve": [("contains", "TakeOrderedAndProject")],
    # queries_curation.py:578 "One scan, one partitioned window shuffle
    # — no global sort".
    "token_budget_selection": [("max_hash_exchanges", 1)],
    # queries_warehouse.py:521 "one shuffle on user_id" (last-touch
    # attribution without a join).
    "last_touch_attribution": [("max_hash_exchanges", 1)],
    # operators/dedup.py:5 "exact dedup is a hash group-by — one
    # shuffle on the text hash".
    "dedup_exact": [("max_hash_exchanges", 1)],
    # r13 rewrites (OPTIMIZATION_r13.md):
    # queries_warehouse.py bitemporal: closed-form version CASE — the
    # per-(snapshot, order) row_number window and the 3-way union are
    # gone; the 4-row snapshot join is a broadcast nested loop.
    "bitemporal_snapshot_revenue": [
        ("absent", ") Window"),
        ("contains", "BroadcastNestedLoopJoin"),
        ("max_hash_exchanges", 1),
    ],
    # queries_corpus.py char entropy: one codegen projection — no
    # 37-way alphabet Generate, no pre-sort hash exchange.
    "char_entropy_scores": [
        ("absent", ") Generate"),
        ("max_hash_exchanges", 0),
    ],
    # queries_dq.py fk containment: one tagged-union groupBy(v) per
    # candidate pair (10 pairs) — was ~20 Exchange mentions per pair.
    "fk_containment_discovery": [("max_hash_exchanges", 10)],
    # queries_corpus.py NB langid: the per-doc argmin window became a
    # min-struct aggregate — no Window operator anywhere in the plan.
    "nb_langid_confusion": [("absent", ") Window")],
}


def hash_exchange_count(plan: str) -> int:
    """Count Exchange TREE nodes with hashpartitioning arguments.

    The formatted detail section lists each node as `(N) Exchange`
    followed by an `Arguments: hashpartitioning(...)` line; pairing
    them (not raw substring counts) keeps rangepartitioning output
    sorts and SinglePartition scalar collects out of the number.
    """
    n = 0
    block: str | None = None
    for line in plan.splitlines():
        m = re.match(r"\(\d+\) (\w+)", line)
        if m:
            block = m.group(1)
        elif block == "Exchange" and line.startswith("Arguments: hashpartitioning"):
            n += 1
            block = None
    return n


def write_plans_md(plans: dict[str, str], sf_dir: str) -> None:
    out = ["# PLANS — formatted physical plans of the headline queries\n"]
    out.append(f"Generated against `{sf_dir}` (plan shape is sf-independent).\n")
    for name in HEADLINE:
        plan = plans[name]
        out.append(f"\n## {name}  (exchange mentions: {plan.count('Exchange')})\n")
        out.append("```\n" + plan.strip() + "\n```\n")
    with open("PLANS.md", "w") as f:
        f.write("".join(out))
    print(f"wrote PLANS.md ({len(HEADLINE)} queries)")


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark("plan_audit")
    qs = queries()

    unknown = sorted(set(CLAIMS) - set(qs))
    if unknown:
        print(f"FAIL: CLAIMS names not in registry: {unknown}")
        return 2

    failures: list[str] = []
    headline_plans: dict[str, str] = {}
    audit_names = sorted(set(CLAIMS) | set(HEADLINE))
    for name in audit_names:
        plan = formatted_plan(spark, qs[name](spark, sf_dir))
        # global invariants (headline set = the hot paths)
        if name in HEADLINE:
            headline_plans[name] = plan
            if "CartesianProduct" in plan and name not in CARTESIAN_ALLOWED:
                failures.append(f"{name}: CartesianProduct in a headline plan")
            if "BatchEvalPython" in plan:
                failures.append(f"{name}: row-at-a-time BatchEvalPython in plan")
        for check, arg in CLAIMS.get(name, []):
            if check == "contains" and str(arg) not in plan:
                failures.append(f"{name}: claimed '{arg}' absent from plan")
            elif check == "absent" and str(arg) in plan:
                failures.append(f"{name}: claimed no '{arg}' but plan has it")
            elif check == "max_hash_exchanges":
                got = hash_exchange_count(plan)
                if got > int(arg):  # type: ignore[arg-type]
                    failures.append(
                        f"{name}: claimed <={arg} hash exchange(s), plan has {got}"
                    )
        status = "FAIL" if any(f.startswith(name + ":") for f in failures) else "ok"
        n_claims = len(CLAIMS.get(name, []))
        print(f"[{status:4}] {name} ({n_claims} claims, "
              f"{hash_exchange_count(plan)} hash-exchanges)")

    write_plans_md(headline_plans, sf_dir)
    if failures:
        print(f"\nPLAN AUDIT FAILED ({len(failures)}):")
        for f in failures:
            print(f"  - {f}")
        return 1
    print(f"\nplan audit OK: {len(audit_names)} queries, "
          f"{sum(len(v) for v in CLAIMS.values())} claims, 2 global invariants")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
