#!/usr/bin/env python3
"""Full-surface growth gate over the ScalingBench sweep (VERDICT r06 #5).

Parses a `graft.tools.ScalingBench` log run over ALL queries (env
SPARK_GRAFT_SCALING_QUERIES=ALL) with the sf1 fixture present, and flags
every query whose last-decade growth (sf1 / sf0.1) exceeds the
threshold — the signal that a plan's shuffle or pair fan-out is growing
super-linearly with data, which absolute-time gates cannot see.

    flag if growth > GROWTH_LIMIT (default 12.0)
            and sf1_sec > 1.0      (absolute floor: sub-second queries
                                    are dominated by fixed planning
                                    cost, growth there is noise)

Data grows 10x per decade, so ~8-10x growth on per-row work (decode,
regex, hashing) is LINEAR and healthy — small-SF times sit on a fixed
planning/scheduling floor that deflates their denominator. 12x is the
super-linear bar with that floor effect priced in.

WAIVERS name queries whose super-linear growth is inherent and
measured-understood (output-volume or algorithmic bounds, documented in
BASELINE.md); they are reported but do not fail the gate. Round-7 audit:
every other >12x row was a real defect and was FIXED, not waived
(q117/q132 fixture pattern collapse, q121 fixture name collisions).

If the same query appears multiple times in the log (re-measured after
a fix), the LAST row wins.

The gate reads the LAST decade in the log, whatever it is: a sweep with
the sf10 fixture present gates sf1->sf10 growth, one without it gates
sf0.1->sf1. Growth between derived-fixture decades (sf1->sf10) carries
no small-SF planning floor, so healthy linear queries measure ~10x
there, still inside the 12x bar.

Usage: scaling_gate.py <scalingbench.log> [growth_limit] [out.json]
Writes SCALING_gate.json (or out.json) with {rows, flags, waived,
verdict}; exits 1 on unwaived flags.
"""
import json
import re
import sys

WAIVERS = {
    # q100's waiver (output-inherent 101x overlap pairs) was RETIRED in
    # round 9: the r8 re-contract to bounded per-key aggregates measures
    # 3.7x growth in SCALING_sweep_r09.log — far from the gate, so the
    # waiver would only mask a future regression.
    "q122_triangle_count":
        "algorithmic: rank-oriented wedge enumeration is O(m^1.5) = "
        "31.6x bound for 10x edges; measured 15.3x, well inside it",
    "q282_adamic_adar":
        "volume-inherent on a DENSE co-occurrence graph: pair-row "
        "volume sum_f C(deg_f,2) is measured EXACTLY linear (8.7M / "
        "87.2M / 872M at sf0.1/1/10, 10.000x/decade, degree-histogram "
        "counted) and every supplier pair co-occurs (distinct pairs = "
        "complete C(1000,2) per derived copy), so the ~20 GB pair "
        "exchange is the algorithm's output-side floor; map-side "
        "combine cannot compress it (~27M rows over ~50M keys per map "
        "task, <=1.3x). Measured 12.3x/decade = linear 10x + single-"
        "box IO variance; DuckDB executing the SAME semantics at sf10 "
        "takes 172.8 s vs the engine's 78.8 s (2.2x ahead). "
        "Attribution A/B in SCALING_sweep_r12b.log.",
    "q126_substring_removal":
        "THIRD-decade (sf10->sf100) disk-I/O floor, scoped to the r13 "
        "documents-only sf100 probe: the gram exchange is linear "
        "(3.3x/decade through sf10, reproduced within 2% of r12), but "
        "at sf100 its ~60-75 GB spill saturates the box's ONE local "
        "disk (two sibling q130/q131 attempts filled the disk "
        "entirely), so wall-clock tracks I/O, not plan shape — CPU per "
        "row is constant by the fixture's copy-isomorphism. Same-box "
        "same-hour calibration: the REBUILT r12 commit measures 2.3x "
        "slower than its own recorded sf10 numbers (disk-throughput "
        "container drift). At 100 TB the exchange spreads across "
        "per-executor disks. Full attribution in "
        "SCALING_sweep_r13_span.log.",
    "q130_selfrepeat_spans":
        "THIRD-decade (sf10->sf100) disk-I/O floor, scoped to the r14 "
        "documents-only sf100 probe — the same class as q126's r13 "
        "waiver, now MEASURED instead of capacity-blocked: 442.45 s at "
        "5M docs (16.2x/decade) with zstd spill compression fitting "
        "the ~30 GB working set on the box's ONE local disk (r13's "
        "lz4 attempts died on ENOSPC). The gram exchange is linear "
        "through sf10 (1.7-2.9x/decade, r12-reproduced); CPU per row "
        "is constant by the fixture's copy-isomorphism, so the sf100 "
        "excess is single-disk I/O, which per-executor disks absorb "
        "at 100 TB. Full attribution in SCALING_sweep_r14_span.log "
        "(q131, the removal half, measures 8.8x against its clean "
        "sf10 — inside the gate, no waiver).",
}

# ATTRIBUTIONS annotate rows that are INSIDE the gate but close enough
# to the bar that an unexplained number invites re-investigation
# (VERDICT r14: "the worst non-waived row should carry the same
# attribution quality as the waived ones"). They never affect the
# verdict — the note rides on the row wherever it appears.
ATTRIBUTIONS = {
    "q165_video_scene_cuts":
        "map-only AVI frame decode saturates all 32 cores, so LINEAR "
        "work = 10x wall per data decade IS the single-box floor — no "
        "shuffle, no join, nothing to re-plan; at cluster scale more "
        "executors absorb it (decode parallelism = file splits), and "
        "the frame-SAMPLED variant q202 exists for budgeted scans.",
}


def main():
    path = sys.argv[1] if len(sys.argv) > 1 else "/tmp/scaling_all.log"
    limit = float(sys.argv[2]) if len(sys.argv) > 2 else 12.0
    out_path = sys.argv[3] if len(sys.argv) > 3 else "SCALING_gate.json"
    rows = {}
    with open(path) as f:
        for line in f:
            m = re.search(
                r"(q\d+_\w+)\s+((?:\d+\.\d+\s+)+)\s*(\d+\.\d+)x", line)
            if m:
                times = [float(x) for x in m.group(2).split()]
                rows[m.group(1)] = {"query": m.group(1), "times": times,
                                    "growth": float(m.group(3))}
    rows = list(rows.values())
    if not rows:
        print(f"{path}: no ScalingBench rows found", file=sys.stderr)
        sys.exit(2)
    hot = [r for r in rows if r["growth"] > limit and r["times"][-1] > 1.0]
    flags = [r for r in hot if r["query"] not in WAIVERS]
    waived = [{"query": r["query"], "growth": r["growth"],
               "last_sec": r["times"][-1], "reason": WAIVERS[r["query"]]}
              for r in hot if r["query"] in WAIVERS]
    out = {
        "source": path,
        "growth_limit": limit,
        "queries": len(rows),
        "flags": [{"query": r["query"], "growth": r["growth"],
                   "last_sec": r["times"][-1]} for r in flags],
        "waived": waived,
        "worst": sorted(
            [dict({"query": r["query"], "growth": r["growth"],
                   "last_sec": r["times"][-1]},
                  **({"note": ATTRIBUTIONS[r["query"]]}
                     if r["query"] in ATTRIBUTIONS else {}))
             for r in rows],
            key=lambda r: -r["growth"])[:10],
        "verdict": "FAIL" if flags else "PASS",
    }
    with open(out_path, "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps({k: out[k] for k in
                      ("queries", "growth_limit", "flags", "waived",
                       "verdict")}))
    sys.exit(1 if flags else 0)


if __name__ == "__main__":
    main()
