#!/usr/bin/env python3
"""Min-of-N layout experiment at the sf10 rung → GROWTH_r{N}.json.

The sf10 ladder walls are single readings with a measured ±2x
run-to-run spread (SCALE.md's dagger caveat), so the round-9 layout
finding (g10: 546.6 s at the default cpus-tied 8 shuffle partitions
vs 330.6 s at 64) needs repeats before it can be read as a growth
statement. This runs each (query, partitions) arm N times in fresh
JVMs — the same one-JVM-per-query methodology as the ladder's sf10
rung — and commits min/median/all walls per arm.

Round 11:
  - Arms are INTERLEAVED rep-major (rep 0 of every arm, then rep 1,
    ...), so a two-config A/B compares same-minute conditions instead
    of back-to-back blocks an hour apart — the alternating-arm design
    the r10 verdict asked for (item 5, the g01 re-measure).
  - Every run's row carries its own scalar+parallel contention probe
    (par_over_scalar, written by graft.Verify into calibration.json) —
    cross-arm comparisons cite in-row probes, not hour-matching
    (verdict item 4).
  - Launches go through tools/ladder.py's run_verify (direct-java with
    the class-vs-source staleness guard, falling back to sbt).

Usage: python3 tools/growth_exp.py <round> [reps] [out.json]
                                   [--arms tag=query:parts,...]
                                   [--dir /tmp/sf1]
Default arms are in ARMS below; --arms overrides them (parts "def"
= leave the knob unset, i.e. Verify's data-derived default). An
optional trailing :KEY=VAL per arm is passed into that arm's
environment (e.g. SPARK_GRAFT_CPUS=4). The artifact is merged
arm-by-arm into an existing out.json so the experiment can be
extended across runs without losing readings.
"""
import json
import os
import sys
import time
from pathlib import Path

from ladder import run_verify, settle_load

REPO = Path(__file__).resolve().parent.parent
SF10 = "/tmp/sf10"

# (tag, query, shuffle_partitions_or_None_for_default[, extra_env])
# default arm: g01 under the core-tied round layout (the round-11
# core-tied vs session-layout A/B settled the layout; GROWTH_r11)
ARMS = [
    ("g01_ct", "g01_pagerank", None),
]


def run_once(query, parts, out_dir, sf_dir=SF10, extra_env=None):
    saved = {}
    try:
        # run_verify reads os.environ; scope the arm's knobs to this run
        knobs = {"SPARK_GRAFT_SHUFFLE_PARTITIONS": parts} if parts else {}
        if extra_env:
            knobs.update(extra_env)
        # round 16 (verdict item 3): an arm may override the core count
        # (the sf1 8-vs-32-core scaling rung) — run_verify's explicit
        # cpus kwarg wins over os.environ, so thread it through rather
        # than letting the default 8 clobber the arm's intent
        cpus = knobs.pop("SPARK_GRAFT_CPUS", "8")
        for k, v in knobs.items():
            saved[k] = os.environ.get(k)
            os.environ[k] = v
        # idle-gate every arm launch (round 15, r14 verdict item 7):
        # GROWTH_r14's g01 sf30 arm read min 450.6 / median 656.4 with
        # first probes at 1.20/0.95 — minima depended on launch order.
        # Same gate the ladder's stream reps use; on timeout the arm
        # runs anyway and its in-row probe adjudicates.
        settle_load(2.0, 600)
        t0 = time.time()
        run_verify(sf_dir, out_dir, query, cpus=cpus, mem="64g")
        wall = round(time.time() - t0, 1)
    finally:
        for k, v in saved.items():
            if v is None:
                os.environ.pop(k, None)
            else:
                os.environ[k] = v
    timings = json.loads(Path(out_dir, "timings.json").read_text())
    calib = json.loads(Path(out_dir, "calibration.json").read_text())
    return timings[query], round(calib["par_over_scalar"], 3), wall


def parse_arms(spec):
    # tag=query:parts[:KEY=VAL] - parts "def" leaves the knob unset
    # (Verify's data-derived default); an optional trailing KEY=VAL is
    # passed into the arm's environment (e.g. the core-tied opt-out)
    arms = []
    for item in spec.split(","):
        tag, rhs = item.split("=", 1)
        fields = rhs.split(":")
        query, parts = fields[0], fields[1]
        extra = None
        if len(fields) > 2:
            k, v = fields[2].split("=", 1)
            extra = {k: v}
        arms.append((tag, query, None if parts == "def" else parts, extra))
    return arms


def main():
    argv = list(sys.argv[1:])
    arm_list = ARMS
    if "--arms" in argv:
        i = argv.index("--arms")
        arm_list = parse_arms(argv[i + 1])
        del argv[i:i + 2]
    sf_dir = SF10
    if "--dir" in argv:
        i = argv.index("--dir")
        sf_dir = argv[i + 1]
        del argv[i:i + 2]
    rnd = argv[0]
    reps = int(argv[1]) if len(argv) > 1 else 3
    out = argv[2] if len(argv) > 2 else f"GROWTH_r{rnd}.json"
    out_path = REPO / out
    arms = (json.loads(out_path.read_text())["arms"]
            if out_path.exists() else {})
    walls = {}   # tag -> list of query walls, run order
    probes = {}  # tag -> list of par_over_scalar, run order

    def write_artifact():
        for arm in arm_list:
            tag, query, parts = arm[0], arm[1], arm[2]
            extra_env = arm[3] if len(arm) > 3 else None
            if not walls.get(tag):
                continue
            ws = sorted(walls[tag])
            arms[tag] = {
                "query": query,
                "cpus": int((extra_env or {}).get("SPARK_GRAFT_CPUS", 8)),
                "shuffle_partitions":
                    int(parts) if parts else "data-derived",
                "extra_env": extra_env,
                "driver_mem": "64g", "dir": sf_dir,
                "walls_sec": walls[tag], "min_sec": ws[0],
                "median_sec": ws[len(ws) // 2],
                "par_over_scalar_all": probes[tag],
            }
        # preserve any other top-level keys an earlier tool wrote into
        # the shared artifact (round 16: ab_capped_derivation's notes)
        base = (json.loads(out_path.read_text())
                if out_path.exists() else {})
        base.update({"round": int(rnd), "reps": reps, "arms": arms})
        base.setdefault("generated_by", "tools/growth_exp.py")
        out_path.write_text(json.dumps(base, indent=1, sort_keys=True))

    # rep-major interleave: every arm's rep k runs before any arm's
    # rep k+1, so the two configs of an A/B see the same weather
    for rep in range(reps):
        for arm in arm_list:
            tag, query, parts = arm[0], arm[1], arm[2]
            extra_env = arm[3] if len(arm) > 3 else None
            odir = f"/tmp/growth_{tag}_rep{rep}"
            w, pos, total = run_once(query, parts, odir, sf_dir, extra_env)
            walls.setdefault(tag, []).append(w)
            probes.setdefault(tag, []).append(pos)
            print(f"[growth] {tag} rep{rep}: query {w:.1f}s "
                  f"par/scalar {pos:.2f} (jvm total {total:.1f}s)",
                  flush=True)
            write_artifact()
    print(f"[growth] wrote {out}")


if __name__ == "__main__":
    main()
