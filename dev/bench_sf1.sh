#!/usr/bin/env bash
# Repeatable sf0.1 -> sf1 scaling measurement (the BENCH_SF1.md study as
# one command): generates the deterministic sf1 tables, measures the
# work-volume denominators at both SFs, times the heavy query family at
# both SFs, and emits machine-readable BENCH_SF1.json next to the repo's
# BENCH_SF1.md.
#
# Full run is HOURS at sf1 (jaccard/containment/triangles are the
# quadratic-work rows; that is the point of the study). For a smoke of
# the plumbing: QUERIES="q_kmeans q_ann_pq_full" N01=1 N1=1 dev/bench_sf1.sh
#
# Overridables: SF01 (default /root/testdata/sf0.1), SF1 (/tmp/graft_sf1),
# OUT (BENCH_SF1.json), QUERIES, N01/N1 (best-of-N at each SF),
# SPARK_GRAFT_CPUS (32, the core count BENCH_SF1.json was measured at).
# SF1 is generated only when it holds no documents table yet, so pointing
# it at an existing data dir measures that dir instead of overwriting it;
# delete the dir to regenerate.
set -euo pipefail
cd "$(dirname "$0")/.."

SF01=${SF01:-/root/testdata/sf0.1}
SF1=${SF1:-/tmp/graft_sf1}
OUT=${OUT:-BENCH_SF1.json}
N01=${N01:-3}
N1=${N1:-2}
export SPARK_GRAFT_CPUS=${SPARK_GRAFT_CPUS:-32}
QUERIES=${QUERIES:-"q_decontaminate q_lsh_bucket_stats q_dup_spans \
q_dedup_substring q_heavy_hitters q_dedup_minhash q_kmeans q_ann_pq_full \
q_ann_ivf_full q_ann_lsh_full q_dedup_jaccard q_containment \
q_dedup_cluster q_dedup_canonical q_pagerank q_triangles"}

LOG=$(mktemp -d /tmp/bench_sf1.XXXXXX)
echo "[bench_sf1] logs in $LOG"

# 1. deterministic sf1 data (seed 4242 inside the generator)
if [ -e "$SF1/documents.parquet" ]; then
  echo "[bench_sf1] $SF1 already holds documents.parquet: not regenerating"
else
  python3 dev/gen_sf1.py "$SF1"
fi

# 2. work-volume denominators (candidate block pairs, edges, wedge proxy)
sbt -batch "Test/runMain graft.ProfSf1 $SF01" | tee "$LOG/vol_sf01.log"
sbt -batch "Test/runMain graft.ProfSf1 $SF1"  | tee "$LOG/vol_sf1.log"

# 3. fresh-JVM timings, same full-plan execution as Bench (toRdd.count)
sbt -batch "runMain graft.Profile $SF01 $N01 $QUERIES" | tee "$LOG/t_sf01.log"
sbt -batch "runMain graft.Profile $SF1 $N1 $QUERIES"   | tee "$LOG/t_sf1.log"

# 4. assemble BENCH_SF1.json
python3 - "$LOG" "$OUT" <<'PYEOF'
import json, re, sys, time

log, out = sys.argv[1], sys.argv[2]

def volumes(path):
    v = {}
    for line in open(path):  # sbt prefixes output with "[info] " — search
        m = re.search(r"candidates_block_pairs=(\d+)", line)
        if m:
            v["candidates_block_pairs"] = int(m.group(1))
        m = re.search(r"threshold=([\d.]+) edges=(\d+) deg2_sum=(\d+)", line)
        if m:
            v[f"edges_t{m.group(1)}"] = int(m.group(2))
            v[f"deg2_sum_t{m.group(1)}"] = int(m.group(3))
    return v

def times(path):
    t = {}
    for line in open(path):
        m = re.search(r"(q_\w+)\s+best=([\d.]+)\s+runs=([\d.,]+)", line)
        if m:
            t[m.group(1)] = {"best_s": float(m.group(2)),
                             "runs_s": [float(x) for x in m.group(3).split(",")]}
    return t

v01, v1 = volumes(f"{log}/vol_sf01.log"), volumes(f"{log}/vol_sf1.log")
t01, t1 = times(f"{log}/t_sf01.log"), times(f"{log}/t_sf1.log")

queries = {}
for q in sorted(set(t01) | set(t1)):
    row = {"sf0.1": t01.get(q), "sf1": t1.get(q)}
    if q in t01 and q in t1 and t01[q]["best_s"] > 0:
        row["time_growth"] = round(t1[q]["best_s"] / t01[q]["best_s"], 2)
    queries[q] = row

vol_growth = {k: round(v1[k] / v01[k], 2)
              for k in v01 if k in v1 and v01[k]}

doc = {"generated_utc": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
       "method": "fresh-JVM Profile best-of-N per SF (toRdd.count full "
                 "plan); volumes from ProfSf1; sf1 data dev/gen_sf1.py seed 4242",
       "volumes": {"sf0.1": v01, "sf1": v1, "growth": vol_growth},
       "queries": queries}
json.dump(doc, open(out, "w"), indent=1)
print(f"[bench_sf1] wrote {out}: {len(queries)} queries, "
      f"{len(vol_growth)} volume growths")
PYEOF
