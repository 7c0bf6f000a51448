"""Produce BENCH_r{N}_isolated.json under the CANONICAL isolated
protocol (VERDICT r12 item 7: r12 changed protocol mid-stream and
left no protocol-matched round-over-round comparison; this script
pins it).

Protocol (identical to BENCH_r12_isolated's): one query per fresh
bench process, nothing else on the machine. 'cold' = best-of-2 in the
fresh JVM (the query listed once); 'warm' = the query listed twice in
SPARK_GRAFT_BENCH_QUERIES, recording the second occurrence's
best-of-2 (the 3rd/4th runs — bench.py's timings dict keeps the LAST
occurrence's value for a repeated name). The warm pass still
under-warms whole-stage codegen relative to the 90-query suite JVM;
isolated numbers are comparable ONLY to other isolated runs under
this same protocol.

Usage: python tools/isolated_bench.py OUT.json [query ...]
(defaults to the r12 isolated set's surviving entries). Run with the machine otherwise
idle.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

DEFAULT_QUERIES = [
    "graph_triangle_counts",
    "tpch_q18_large_volume_customer",
    "w4_session_windows",
    "tpch_q1_pricing_summary",
]

PROTOCOL = (
    "one query per fresh bench process, nothing else on the machine. "
    "'cold' = one best-of-2 in the fresh JVM; 'warm' = the query "
    "listed twice, recording the second best-of-2 (4th run). Canonical "
    "as of r13 (VERDICT r12 item 7); identical to BENCH_r12_isolated's "
    "protocol, so isolated round-over-round ratios are meaningful "
    "again. The warm pass under-warms whole-stage codegen relative to "
    "the full-suite JVM — compare isolated-to-isolated only."
)


def _run(query_spec: str, sf_dir: str) -> dict[str, float]:
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(
        os.environ,
        SPARK_GRAFT_BENCH_QUERIES=query_spec,
        SPARK_GRAFT_SF_DIR=sf_dir,
    )
    proc = subprocess.run(
        [sys.executable, os.path.join(here, "bench.py")],
        capture_output=True, text=True, env=env, cwd=here, timeout=3600,
    )
    for line in reversed(proc.stdout.strip().splitlines()):
        line = line.strip()
        if line.startswith("{"):
            return json.loads(line).get("queries", {})
    raise RuntimeError(f"no bench JSON for {query_spec}:\n{proc.stdout[-2000:]}"
                       f"\n{proc.stderr[-2000:]}")


def main() -> None:
    out_path = sys.argv[1]
    queries = sys.argv[2:] or DEFAULT_QUERIES
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    warm: dict[str, float] = {}
    cold: dict[str, float] = {}
    for q in queries:
        cold_t = _run(q, sf_dir).get(q)
        warm_t = _run(f"{q},{q}", sf_dir).get(q)
        cold[q], warm[q] = cold_t, warm_t
        print(f"{q}: cold={cold_t} warm={warm_t}", flush=True)
    doc = {
        "metric": "isolated_single_query_seconds",
        "unit": "sec",
        "sf": 0.1,
        "protocol": PROTOCOL,
        "queries_warm": warm,
        "queries_cold": cold,
    }
    # protocol-matched ratio table vs the previous isolated round
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    prev_path = os.path.join(here, "BENCH_r12_isolated.json")
    if os.path.exists(prev_path):
        prev = json.load(open(prev_path)).get("queries_warm", {})
        doc["vs_r12_warm_ratio"] = {
            q: round(warm[q] / prev[q], 2)
            for q in warm if q in prev and prev[q] and warm[q] is not None
        }
    with open(out_path, "w", encoding="utf-8") as fh:
        json.dump(doc, fh, indent=1)
    print(f"wrote {out_path}")


if __name__ == "__main__":
    main()
