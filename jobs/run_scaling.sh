#!/bin/bash
# North-rule scaling evidence: the SAME job at two parallelism levels
# (local[N] vs local[4N], CPU-pinned), plus a host-ceiling calibration so
# sub-linear rows can be attributed to the box, not the engine.
#
# Measurement rules (hard-won):
# - taskset pins each leg to exactly its core budget — JVM task threads and
#   python workers otherwise spill onto idle host cores and overstate the
#   small leg.
# - the task grid (shuffle partitions, input partitions) is FIXED across
#   legs (jobs/scaling.py N_PART): identical plans, only scheduler
#   parallelism varies. r1's cores-proportional partitioning made the small
#   leg spill (super-linear 8.98x pip artifact).
# - this host has heavy noisy-neighbor variance (same leg repeated 20 min
#   apart differs by up to 1.6x, and even the pure-python calibration
#   moves) — so legs are run in ALTERNATING cycles and each (workload,
#   cores) takes the MIN across cycles. A single A/B pair is not evidence
#   on this box.
# - jobs/host_calibration.py measures what this host can deliver N->4N for
#   ALU-bound vs DRAM-bound kernels: the cores are real vCPUs but SHARE
#   memory controllers, so memory-heavy kernels cap below 1.0 on ONE box.
#   On a real cluster 4N executors bring 4N memory controllers, so the
#   mem-normalized column is the cluster-relevant number.
set -e
cd "$(dirname "$0")/.."
N=${1:-2}
N4=$((N * 4))
SF=${SPARK_GRAFT_SF_DIR:-/root/testdata/sf0.1}
PAGES=${2:-96000}
REP=${3:-16}
CYCLES=${4:-2}

J4S=()
J1S=()
CALS=()
for c in $(seq 1 "$CYCLES"); do
  echo "cycle $c: host calibration (pure python, no Spark) ..."
  CAL=$(python jobs/host_calibration.py "$N" "$N4" 2>/dev/null | tail -1)
  echo "$CAL"; CALS+=("$CAL")
  echo "cycle $c: cores=$N4 (taskset 0-$((N4-1))) ..."
  J4=$(taskset -c 0-$((N4-1)) python jobs/scaling.py "$N4" "$SF" "$PAGES" "$REP" 2>/dev/null | tail -1)
  echo "$J4"; J4S+=("$J4")
  echo "cycle $c: cores=$N (taskset 0-$((N-1))) ..."
  J1=$(taskset -c 0-$((N-1)) python jobs/scaling.py "$N" "$SF" "$PAGES" "$REP" 2>/dev/null | tail -1)
  echo "$J1"; J1S+=("$J1")
done

python - "$CYCLES" "${CALS[@]}" "${J1S[@]}" "${J4S[@]}" <<'EOF'
import json, sys, datetime
n_cycles = int(sys.argv[1])
cals = [json.loads(a) for a in sys.argv[2 : 2 + n_cycles]]
runs = [json.loads(a) for a in sys.argv[2 + n_cycles :]]
# best-observed host capability, matching the min-based workload times
cal = {
    "n": cals[0]["n"], "n4": cals[0]["n4"],
    "alu": max((c["alu"] for c in cals), key=lambda x: x["efficiency"]),
    "mem": max((c["mem"] for c in cals), key=lambda x: x["efficiency"]),
}
by_cores: dict[int, list] = {}
for r in runs:
    by_cores.setdefault(r["cores"], []).append(r)
cores_sorted = sorted(by_cores)
n, n4 = cores_sorted[0], cores_sorted[-1]
keys = ["normalize", "pip_join", "tiles", "knn", "chunk_dedup"]
extra_keys = [k for k in ["tiles_4x", "pagerank", "grid_clusters"] if k in runs[0]["seconds"]]

def best(cores, k):
    return min(r["seconds"][k] for r in by_cores[cores])

rows_meta = by_cores[n][0]["rows"]
klass = {
    "normalize": "alu",   # python string/XML parsing, small working set
    "pip_join": "mem",    # Arrow transfer + pandas/numpy refine, DRAM-bound
    "tiles": "mem",       # cell-count shuffles
    "tiles_4x": "mem",    # same, 4x points (scale-representative leg)
    "knn": "mem",         # candidate-join + window shuffles
    "chunk_dedup": "mem", # explode + hash-agg + join shuffles
    "pagerank": "mem",    # per-iteration shuffle joins + aggregates
    "grid_clusters": "mem",  # cell-count reduce + dense-cell CC (r6s3 extra leg)
    "total": "mem",
}
lines = [
    "# BENCH/BASELINE.md — measured scaling (north rule: efficiency >= 0.8 from N to 4N)",
    "",
    f"Generated {datetime.date.today().isoformat()} by jobs/run_scaling.sh on local[{n}] vs local[{n4}]",
    f"(sandbox proxy for N vs 4N executors; both legs CPU-pinned, identical task grid,",
    f"{len(by_cores[n])} alternating cycles per leg, min per workload — this host's",
    "noisy-neighbor variance reaches 1.6x between single runs).",
    "",
    "## Host ceiling (jobs/host_calibration.py — pure python, no Spark)",
    "",
    f"| kernel class | {n}c sec | {n4}c sec | throughput scaling | ceiling efficiency |",
    "|---|---|---|---|---|",
]
for k in ("alu", "mem"):
    c = cal[k]
    lines.append(
        f"| {k} | {c['t_n']} | {c['t_n4']} | {c['throughput_x']:.2f}x | {c['efficiency']:.2f} |"
    )
lines += [
    "",
    "The pinned cores are distinct vCPUs (no SMT pairing) but share the",
    "memory controllers: DRAM-bound kernels cap at the `mem` ceiling on one",
    "box. On a real cluster, 4N executors bring 4N memory controllers and",
    "4N sets of local shuffle disks — the normalized column below is the",
    "cluster-relevant efficiency. Shuffle/spill runs on tmpfs (session.py)",
    "so the boot disk is out of the picture.",
    "",
    "## Workloads",
    "",
    f"| workload | rows | local[{n}] sec | local[{n4}] sec | speedup | efficiency | kernel class | host-normalized |",
    "|---|---|---|---|---|---|---|---|",
]
tot1 = tot4 = 0.0
for k in keys + extra_keys:
    t1, t4 = best(n, k), best(n4, k)
    if k in keys:  # extra legs are reported but kept out of the
        tot1 += t1; tot4 += t4  # cross-round-comparable total
    rows = rows_meta.get(
        {"normalize": "pages", "chunk_dedup": "docs",
         "tiles_4x": "points4", "pagerank": "pr_nodes",
         "grid_clusters": "points"}.get(k, "points"), ""
    )
    sp = t1 / t4
    eff = sp / (n4 / n)
    ceil = cal[klass[k]]["efficiency"]
    lines.append(
        f"| {k} | {rows} | {t1} | {t4} | {sp:.2f}x | {eff:.2f} | {klass[k]} | {min(eff / ceil, 1.0):.2f} |"
    )
eff = (tot1 / tot4) / (n4 / n)
lines += [
    f"| total | | {round(tot1,2)} | {round(tot4,2)} | {tot1/tot4:.2f}x | {eff:.2f} | mem | "
    f"{min(eff / cal['mem']['efficiency'], 1.0):.2f} |",
    "",
    f"**Total throughput scaling efficiency {n} -> {n4} cores: {eff:.2f} raw, "
    f"{min(eff / cal['mem']['efficiency'], 1.0):.2f} host-normalized.**",
    "",
    "The `tiles_4x` row (4x the base points; 19.2M at the default rep=8) is",
    "the scale-representative tiles number: the base tiles leg carries the",
    "bounded res-9 rollup-tail constant (<= 8.4M-cell grid, DRAM-bound on",
    "one box) as a fixed fraction,",
    "which vanishes as points grow — see the preserved round-5 profile below.",
    "tiles_4x, pagerank, and grid_clusters (r6 operator families) are reported alongside and",
    "excluded from the total so totals stay comparable across rounds.",
    "",
    "Raw JSON (per-cycle calibrations, then each cycle):",
    "```json",
    *[json.dumps(c) for c in cals],
    *[json.dumps(r) for r in runs],
    "```",
]
# Preserve hand-written analysis sections: everything at or below the
# keep-below sentinel in the existing file survives regeneration.
SENTINEL = "<!-- keep-below: manual analysis sections, preserved by run_scaling.sh -->"
tail = ""
try:
    old = open("BENCH/BASELINE.md").read()
    if SENTINEL in old:
        tail = "\n" + SENTINEL + old.split(SENTINEL, 1)[1]
except FileNotFoundError:
    pass
open("BENCH/BASELINE.md", "w").write("\n".join(lines) + "\n" + tail)
print("wrote BENCH/BASELINE.md; total raw efficiency:", round(eff, 3))
EOF
