#!/usr/bin/env python
"""Generate PLANS.md — a physical-plan audit of the headline queries.

For each audited query: exchange (shuffle) count, single-partition
window check, scan pushdown summary, and whole-stage-codegen coverage,
plus the hand-written note (``Query.note`` in raptor_spark/queries.py)
on WHY the plan has that shape and how it scales to 10^12 rows. Every
registry record with a note is audited. Run from the repo root:

    python tools/plan_audit.py        # rewrites PLANS.md
"""

from __future__ import annotations

import re
import sys

sys.path.insert(0, "/root/repo")

from raptor_spark.queries import REGISTRY  # noqa: E402
from raptor_spark.session import get_spark  # noqa: E402

SF = "/root/testdata/sf0.01"


# queries whose no-partition window runs over a pre-aggregated frame
# that is bounded by construction (NOT the corpus) — labeled honestly
# in the table instead of the **YES** scale-killer flag.
BOUNDED_WINDOW = {"pack_sequences", "tokenize_corpus", "hybrid_search"}


def _bracket_groups(s: str) -> list[str]:
    """Top-level ``[...]`` groups of a plan line (nesting-aware)."""
    groups, depth, start = [], 0, -1
    for i, ch in enumerate(s):
        if ch == "[":
            if depth == 0:
                start = i + 1
            depth += 1
        elif ch == "]":
            depth -= 1
            if depth == 0:
                groups.append(s[start:i])
    return groups


def partitionless_windows(plan: str) -> tuple[list[str], list[str]]:
    """Window operators with NO partition spec — the single-reducer
    scale-killer. Spark 4.1 OMITS empty lists from the Window print
    (verified on this JVM) instead of printing ``[]``:

      3 groups  -> [exprs], [partition], [order]   (safe)
      2 groups  -> [exprs], [partition]            (safe, unordered)
                OR [exprs], [order]                (GLOBAL ordered — flag)
      1 group   -> [exprs]                         (GLOBAL unordered — flag)

    The two-group forms are distinguished by the sort-direction
    keywords, which only ever appear in an order spec. The round-3
    detector expected the literal ``, []`` form and was dead on this
    Spark version — it reported 0 hits while runtime
    ``WARN WindowExec: No Partition Defined`` fired.

    Returns ``(unbounded, limit_fed)``: a global window whose direct
    child is a Limit-type operator (``TakeOrderedAndProject`` /
    ``*Limit``) runs over a ≤ k-row frame by construction — reported
    separately so PLANS.md can label it honestly instead of flagging
    it as the single-reducer scale-killer."""
    unbounded, limit_fed = [], []
    lines = plan.splitlines()
    for i, line in enumerate(lines):
        # exact node name: WindowGroupLimit prints different group
        # semantics, and a global one always precedes a global Window
        # that IS matched here
        m = re.search(r"\bWindow \[", line)
        if not m:
            continue
        groups = _bracket_groups(line[m.start():])
        if len(groups) >= 3:
            continue
        if len(groups) == 2 and not re.search(
            r"\b(ASC|DESC) NULLS (FIRST|LAST)\b", groups[1]
        ):
            continue  # [exprs], [partition] — partitioned, unordered
        # only trust a Limit that sits on the window's LINEAR input
        # chain: stop the 2-line lookahead at the first multi-input
        # operator — a limit feeding one side of a join below the
        # window does NOT bound the window's frame
        child = "\n".join(lines[i + 1 : i + 3])
        m_join = re.search(r"Join|Union|Cartesian", child)
        if m_join:
            child = child[: m_join.start()]
        if re.search(r"TakeOrderedAndProject|GlobalLimit|CollectLimit", child):
            limit_fed.append(line.strip()[:160])
        else:
            unbounded.append(line.strip()[:160])
    return unbounded, limit_fed


def audit(name: str, df) -> dict:
    plan = df._jdf.queryExecution().executedPlan().toString()
    n_exchange = len(re.findall(r"\bExchange hashpartitioning", plan))
    n_bcast = len(re.findall(r"\bBroadcastExchange", plan))
    unbounded, limit_fed = partitionless_windows(plan)
    n_codegen = len(re.findall(r"\*\(\d+\)", plan))
    n_expand = len(re.findall(r"\bExpand\b", plan))
    scans = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    read_schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    return {
        "shuffles": n_exchange,
        "broadcasts": n_bcast,
        "unbounded_global_windows": unbounded,
        "limit_fed_global_windows": limit_fed,
        "codegen_stages": n_codegen,
        "expands": n_expand,
        "pushed_filters": [s for s in scans if s][:3],
        "read_cols": [len(s.split(",")) for s in read_schemas],
    }


def main() -> None:
    spark = get_spark(app="plan_audit")
    lines = [
        "# PLANS — physical-plan audit of the headline queries",
        "",
        "Generated by `python tools/plan_audit.py` (sf0.01 inputs; plan",
        "SHAPE is scale-invariant). Shuffle = `Exchange hashpartitioning`;",
        "single-partition windows (the scale-killer pattern) are flagged.",
        "",
        "| query | shuffles | broadcasts | expands | 1-part window | scan cols |",
        "|---|---|---|---|---|---|",
    ]
    notes = []
    for q in REGISTRY:
        if q.note is None:
            continue
        name = q.name
        df = q.build(spark, SF)
        a = audit(name, df)
        if a["unbounded_global_windows"]:
            # BOUNDED_WINDOW: frames bounded by construction but not
            # limit-fed in the plan text (pack's n_blocks-row offsets,
            # tokenize's truncated vocab, hybrid's checkpointed k_lex
            # candidates) — documented in each query's note below
            flag = (
                "bounded (agg frame)" if name in BOUNDED_WINDOW else "**YES**"
            )
        elif a["limit_fed_global_windows"]:
            flag = "bounded (limit-fed)"
        else:
            flag = "no"
        exp = f"**{a['expands']}**" if a["expands"] else "0"
        lines.append(
            f"| {name} | {a['shuffles']} | {a['broadcasts']} | {exp} | "
            f"{flag} | {a['read_cols']} |"
        )
        notes.append(f"\n## {name}\n\n{q.note}\n")
    lines.append(
        "\nScan-column counts show projection pushdown: every scan reads "
        "only the columns the query needs (the `documents`/`events` "
        "tables are 6-7 columns wide)."
    )
    lines.extend(notes)
    with open("PLANS.md", "w") as f:
        f.write("\n".join(lines) + "\n")
    print("PLANS.md written")
    spark.stop()


if __name__ == "__main__":
    main()
