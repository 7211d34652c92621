"""Generate the single authoritative per-query baseline table (round-5
verdict ask #6): every registered query with (baseline round, baseline
seconds at sf0.1), the number the 2x regression bar is computed from.

Sources, first match wins (a baseline is the EARLIEST surviving sf0.1
measurement and never moves once recorded):

1. bench_snapshots/BASELINES.json — the cumulative ledger this script
   maintains; existing entries are never overwritten.
2. The round-1 markdown table in BASELINE.md (the 42 SURVEY-core
   queries, exact r01 numbers).
3. bench_snapshots/BENCH_SF0.1_DETAIL.json — the r04-vintage full-suite
   snapshot (BASELINE.md's round-3/4 prose notes give only approximate
   per-query numbers; this snapshot is the earliest committed exact
   measurement for those tiers, and the prose is retained as history).
4. BENCH_DETAIL.json — the current round's sf0.1 run (new queries).

sf1.0 leg (round-8 verdict ask #5): the dedup/similarity families — the
100 TB-critical operators — additionally carry a first-seen sf1.0 baseline
measured on the .scale/sf1 fixture (scripts/make_scale_fixture.py).  The
cumulative snapshot bench_snapshots/BENCH_SF1_FAMILIES.json feeds an
optional "sf1" sub-entry per ledger row (first seen, never overwritten),
rendered as an extra column in the autogen table.  Refresh with
`SPARK_GRAFT_SF_DIR=.scale/sf1 SPARK_GRAFT_BENCH_ONLY=<family queries,
comma-separated> SPARK_GRAFT_BENCH_REPS=2 python bench.py` (min-of-2 per
query, written to BENCH_DETAIL_only.json) and merge via this script.

Output: rewrites bench_snapshots/BASELINES.json and the generated section
of BASELINE.md between the AUTOGEN markers.

Usage: python scripts/gen_baseline.py [round-tag-for-new-entries]
"""

from __future__ import annotations

import json
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
LEDGER = os.path.join(REPO, "bench_snapshots", "BASELINES.json")
BASELINE_MD = os.path.join(REPO, "BASELINE.md")
MARK_BEGIN = "<!-- AUTOGEN:PER_QUERY_BASELINE:BEGIN -->"
MARK_END = "<!-- AUTOGEN:PER_QUERY_BASELINE:END -->"


def parse_r01_table(md: str) -> dict[str, float]:
    """The two-column '| name | secs | | name | secs |' r01 table."""
    out: dict[str, float] = {}
    section = md.split("### Per-query baseline (", 1)[-1]
    section = section.split("###", 1)[0]
    for name, secs in re.findall(r"\|\s*(q_\w+)[^|]*\|\s*([0-9.]+)\s*\|", section):
        out[name] = float(secs)
    return out


def main() -> None:
    new_round = sys.argv[1] if len(sys.argv) > 1 else "r06"
    sys.path.insert(0, REPO)
    from real_time_iot_data_engineering_pipeline_spark import registry

    registry.load_all()
    names = sorted(registry.QUERIES)

    ledger: dict[str, dict] = {}
    if os.path.exists(LEDGER):
        ledger = json.load(open(LEDGER))

    md = open(BASELINE_MD).read()
    r01 = parse_r01_table(md)
    snap04 = json.load(
        open(os.path.join(REPO, "bench_snapshots", "BENCH_SF0.1_DETAIL.json"))
    )["queries"]
    detail_path = os.path.join(REPO, "BENCH_DETAIL.json")
    current = {}
    if os.path.exists(detail_path):
        d = json.load(open(detail_path))
        if d.get("sf") == 0.1:
            current = d["queries"]

    missing = []
    for n in names:
        if n in ledger:
            continue
        if n in r01:
            ledger[n] = {"round": "r01", "seconds": r01[n]}
        elif n in snap04:
            ledger[n] = {"round": "r04", "seconds": snap04[n]}
        elif n in current:
            ledger[n] = {"round": new_round, "seconds": current[n]}
        else:
            missing.append(n)

    # sf1.0 family leg: first-seen rows from the cumulative snapshot
    sf1_path = os.path.join(REPO, "bench_snapshots", "BENCH_SF1_FAMILIES.json")
    if os.path.exists(sf1_path):
        sf1 = json.load(open(sf1_path))
        for n, secs in sf1.get("queries", {}).items():
            if n in ledger and "sf1" not in ledger[n]:
                ledger[n]["sf1"] = {
                    "round": sf1.get("round", new_round),
                    "seconds": secs,
                }

    os.makedirs(os.path.dirname(LEDGER), exist_ok=True)
    with open(LEDGER, "w") as f:
        json.dump(ledger, f, indent=1, sort_keys=True)
        f.write("\n")

    def _sf1_cell(n: str) -> str:
        e = ledger[n].get("sf1")
        return f"{e['seconds']:.3f} ({e['round']})" if e else ""

    rows = [
        f"| {n} | {ledger[n]['round']} | {ledger[n]['seconds']:.3f} | {_sf1_cell(n)} |"
        for n in names
        if n in ledger
    ]
    table = "\n".join(
        [
            MARK_BEGIN,
            "",
            "## Authoritative per-query baseline (generated — do not edit)",
            "",
            "One row per registered query: the EARLIEST surviving sf0.1",
            "measurement (min-of-2 protocol from r03 on) and the round it was",
            "taken; the driver's 2x regression bar is computed against the",
            "`seconds` column.  The 100 TB-critical tier — the dedup/similarity",
            "families (r8 ask #5) and, since the r9 continuation, the whole",
            "text/quality/curation family — additionally carries a first-seen",
            "sf1.0 baseline from the .scale/sf1 fixture (min-of-2, isolated",
            "run): their regression bar at the largest local scale.",
            "Regenerate with `python",
            "scripts/gen_baseline.py rNN` after each round's sf0.1 bench run;",
            "existing rows never change.  The prose notes above are historical",
            "context only.",
            "",
            "| query | baseline round | seconds (sf0.1) | sf1.0 (families) |",
            "|---|---|---|---|",
            *rows,
            "",
            MARK_END,
        ]
    )
    if MARK_BEGIN in md:
        pre = md.split(MARK_BEGIN)[0]
        post = md.split(MARK_END)[1]
        md = pre + table + post
    else:
        md = md.rstrip() + "\n\n" + table + "\n"
    with open(BASELINE_MD, "w") as f:
        f.write(md)
    print(f"ledger: {len(ledger)} queries; no-baseline-yet: {missing}")


if __name__ == "__main__":
    main()
