#!/usr/bin/env python3
"""Run one benchmark workload against the program built from this checkout.

    python3 perfbench/run.py --workload iter-sf0.01 --seed 1 --seconds 25 --trace 0

Builds `src/main/scala` plus `perfbench/harness` with the Scala compiler
that ships in Spark's jars (cached under `.bench_build/` by source digest),
derives `local[N]` and the heap from this host, launches one JVM that runs
the workload as a closed-loop client, and prints every metric by name and
unit. The last line of stdout is one JSON object:
`{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}`.
`--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer ones.
The full artifact (host fingerprint, pass walls, spans) goes to
`.bench_build/runs/`. Exit status is 1 on any output mismatch or failure.

Other modes: `--selftest` (the output checks reject perturbed outputs),
`--pin` (print each query's pinned row count and digest), `--size tiny`
(sf0.001 tables and a small corpus, for the benchmark's own tests).
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"


def spark_jars():
    """The Spark jars the repo's own build compiles against (build.sbt's
    `unmanagedBase`), else `$SPARK_HOME/jars`."""
    sbt = ROOT / "build.sbt"
    m = sbt.exists() and re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                                   sbt.read_text())
    if m:
        return Path(m.group(1))
    if os.environ.get("SPARK_HOME"):
        return Path(os.environ["SPARK_HOME"]) / "jars"
    fail("Spark jars not found: no unmanagedBase in build.sbt, no SPARK_HOME")


# (name, unit, better) — BENCHMARK.json lists the same names and units
END_TO_END = [
    ("setup_s", "s", "lower"),
    ("pass_s", "s", "lower"),
    ("job_geomean_s", "s", "lower"),
    ("cpu_s", "s", "lower"),
    ("peak_rss_mb", "MB", "lower"),
]
PER_LAYER = [
    ("queries.construct_s", "s", "lower"),
    ("queries.construct_jobs", "count", "lower"),
    ("operators.cached_bytes", "B", "lower"),
    ("operators.cached_rdds", "count", "lower"),
    ("caches.reclaim_s", "s", "lower"),
    ("caches.reclaimed_rdds", "count", "lower"),
    ("plans.actions", "count", "lower"),
    ("plans.analysis_ms", "ms", "lower"),
    ("plans.optimization_ms", "ms", "lower"),
    ("plans.planning_ms", "ms", "lower"),
    ("plans.fallback_exprs", "count", "lower"),
    ("scheduler.jobs", "count", "lower"),
    ("scheduler.stages", "count", "lower"),
    ("scheduler.tasks", "count", "lower"),
    ("scheduler.outside_tasks_s", "s", "lower"),
    ("tasks.run_s", "s", "lower"),
    ("tasks.cpu_s", "s", "lower"),
    ("tasks.cpu_over_run", "ratio", "higher"),
    ("tasks.deser_s", "s", "lower"),
    ("tasks.slot_busy_frac", "ratio", "higher"),
    ("shuffle.write_bytes", "B", "lower"),
    ("shuffle.read_bytes", "B", "lower"),
    ("shuffle.records", "count", "lower"),
    ("shuffle.fetch_wait_s", "s", "lower"),
    ("shuffle.write_s", "s", "lower"),
    ("memory.spill_disk_bytes", "B", "lower"),
    ("memory.spill_mem_bytes", "B", "lower"),
    ("memory.peak_exec_bytes", "B", "lower"),
    ("memory.gc_s", "s", "lower"),
    ("jvm.jit_s", "s", "lower"),
    ("sources.input_bytes", "B", "lower"),
    ("sources.input_records", "count", "lower"),
    ("mr.input_s", "s", "lower"),
    ("mr.map_stage_s", "s", "lower"),
    ("mr.reduce_stage_s", "s", "lower"),
    ("mr.commit_s", "s", "lower"),
    ("streaming.batches", "count", "lower"),
    ("streaming.latest_offset_ms", "ms", "lower"),
    ("streaming.add_batch_ms", "ms", "lower"),
    ("streaming.wal_commit_ms", "ms", "lower"),
    ("streaming.state_rows", "count", "lower"),
    ("streaming.state_mem_bytes", "B", "lower"),
    ("streaming.rows_per_s", "1/s", "higher"),
    ("streaming.batch_p50_ms", "ms", "lower"),
    ("trace.pass_s", "s", "lower"),
]

# mr-lines corpus: files x lines per file x vocabulary size. The spill
# threshold bounds the sort buffer at a fixed record count, the analogue
# of Hadoop's io.sort.mb, so the no-combiner job spills at this size.
CORPUS = {"full": "8x12000x40000", "tiny": "4x400x2000"}
MR_CONF = "spark.shuffle.spill.numElementsForceSpillThreshold=100000"

# BENCHMARK.json lists iter-sf0.01 and mr-lines; olap-sf0.01 runs the same
# way but is left out of it to fit the run budget (README.md "Sizing").
WORKLOADS = {
    "olap-sf0.01": {"tables": "sf0.01"},
    "iter-sf0.01": {"tables": "sf0.01"},
    "mr-lines": {"corpus": True},
}

# Spark 4 on JDK 17 needs these outside spark-submit (build.sbt keeps the
# same list for the repo's own forked JVMs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

RUN_TIMEOUT_S = 170


def cpu_ticks():
    """Host-wide /proc/stat CPU ticks: (total, steal)."""
    with open("/proc/stat") as f:
        t = [int(x) for x in f.readline().split()[1:]]
    return sum(t), t[7]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def host():
    """Host fingerprint and the settings derived from it."""
    cpus = len(os.sched_getaffinity(0))
    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    # one eighth of MemTotal, whole GiB, 1..8: the JVM shares the host
    heap_gb = max(1, min(8, round(mem_kb / 1048576 / 8)))
    try:
        commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                                capture_output=True, text=True,
                                timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        commit = None
    return {"nproc": cpus, "mem_total_kb": mem_kb, "heap": f"{heap_gb}g",
            "local": f"local[{cpus}]", "shuffle_partitions": cpus,
            "git_commit": commit}


def sources():
    prog = ROOT / "src" / "main"
    if not (prog / "scala").is_dir():
        fail(f"no program sources under {prog.relative_to(ROOT)}; "
             "run from the root of a checkout")
    files = sorted(p for p in prog.rglob("*") if p.is_file())
    files += sorted((HERE / "harness").glob("*.scala"))
    return files


def build():
    """Compile program + harness once per source digest; return the
    classes dir and the digest."""
    files = sources()
    jars = spark_jars()
    if not any(jars.glob("spark-core_*.jar")):
        fail(f"Spark jars not found under {jars}")
    h = hashlib.sha256()
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode() + b"\0" + p.read_bytes())
    h.update("\n".join(sorted(j.name for j in jars.glob("*.jar"))).encode())
    digest = h.hexdigest()[:16]
    out = BUILD / f"build-{digest}"
    classes = out / "classes"
    if (out / "ok").exists():
        return classes, digest
    for old in BUILD.glob("build-*"):
        shutil.rmtree(old, ignore_errors=True)
    classes.mkdir(parents=True)
    scala = [str(p) for p in files if p.suffix == ".scala"]
    t0 = time.time()
    r = subprocess.run(
        ["java", "-Xss16m", "-Xmx3g", "-XX:-UsePerfData", "-cp", f"{jars}/*",
         "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
         "-d", str(classes)] + scala,
        capture_output=True, text=True, cwd=ROOT)
    if r.returncode != 0:
        shutil.rmtree(out, ignore_errors=True)
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
        fail("build failed")
    res = ROOT / "src" / "main" / "resources"
    if res.is_dir():
        shutil.copytree(res, classes, dirs_exist_ok=True)
    (out / "ok").write_text(f"{time.time() - t0:.1f}\n")
    return classes, digest


def pins_tsv(pins_file, tables, dest):
    pins = json.loads(Path(pins_file).read_text())[tables]
    dest.write_text("".join(f"{q}\t{p['rows']}\t{p['digest']}\n"
                            for q, p in sorted(pins.items())))


def launch(classes, h, args, work, out):
    work_tmp = work / "tmp"
    work_tmp.mkdir(parents=True)
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Xmx{h['heap']}", f"-Xms{h['heap']}", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={work_tmp}",
            f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
            f"-Dperfbench.clk_tck={os.sysconf('SC_CLK_TCK')}",
            "-cp", f"{classes}:{spark_jars()}/*", "perfbench.Main",
            "--cpus", str(h["nproc"]), "--work", str(work), "--out", str(out)]
    for k, v in args.items():
        cmd += [f"--{k}", str(v)]
    log = BUILD / "runs" / f"{out.stem}.log"
    launched_ms = int(time.time() * 1000)
    cmd += ["--launched-ms", str(launched_ms)]
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT,
                             cwd=ROOT, start_new_session=True)

        def stop(*_):
            # the JVM and the mapper/reducer processes it spawned
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()

        signal.signal(signal.SIGTERM, lambda *x: (stop(), sys.exit(143)))
        signal.signal(signal.SIGINT, lambda *x: (stop(), sys.exit(130)))
        try:
            rc = p.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            stop()
            rc = "timeout"
    if rc != 0 or not out.exists():
        sys.stderr.write(log.read_text()[-6000:])
        fail(f"benchmark JVM exited with {rc}; log in {log.relative_to(ROOT)}", 1)
    return json.loads(out.read_text())


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", default="iter-sf0.01")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=25)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full")
    ap.add_argument("--pin", action="store_true")
    ap.add_argument("--pins", default=HERE / "pins.json",
                    help="pinned row counts and digests to check against")
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if a.workload not in WORKLOADS:
        fail(f"unknown workload {a.workload}; one of {', '.join(WORKLOADS)}")
    if a.pin and "tables" not in WORKLOADS[a.workload]:
        fail(f"{a.workload} has no pinned outputs; its checks compare runs")

    classes, digest = build()
    h = host()
    wl = WORKLOADS[a.workload]
    tag = f"{a.workload}-{a.size}-seed{a.seed}-trace{a.trace}"
    work = BUILD / "work" / a.workload
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    (BUILD / "runs").mkdir(parents=True, exist_ok=True)
    tables = wl.get("tables")
    if tables and a.size == "tiny":
        tables = "sf0.001"
    args = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
            "trace": a.trace}
    if a.selftest:
        args["mode"] = "selftest"
        tag = "selftest"
    elif a.pin:
        args["mode"] = "pin"
        tag = f"pin-{a.workload}-{tables}"
    else:
        args["mode"] = "bench"
    if tables:
        args["data"] = HERE / "data" / tables
        if args["mode"] == "bench":
            args["pins"] = work / "pins.tsv"
            pins_tsv(a.pins, tables, args["pins"])
    if wl.get("corpus"):
        args["corpus"] = CORPUS[a.size]
        args["conf"] = MR_CONF
    ticks0 = cpu_ticks()
    try:
        r = launch(classes, h, args, work, BUILD / "runs" / f"{tag}.json")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    ticks = [b - a for a, b in zip(ticks0, cpu_ticks())]

    if args["mode"] == "selftest":
        print(json.dumps(r, indent=1))
        sys.exit(0 if r["ok"] else 1)
    if args["mode"] == "pin":
        print(json.dumps({tables: r["pins"]}, indent=1, sort_keys=True))
        return

    fingerprint = dict(h, seed=a.seed, workload=a.workload, size=a.size,
                       tables=tables, source_digest=digest, seconds=a.seconds,
                       corpus=args.get("corpus"),
                       # share of host CPU time taken by other guests during
                       # the run: the main source of run-to-run spread
                       host_steal_frac=round(ticks[1] / max(1, ticks[0]), 4),
                       **r["settings"])
    r["fingerprint"] = fingerprint
    (BUILD / "runs" / f"{tag}.json").write_text(json.dumps(r))

    table = PER_LAYER if a.trace else END_TO_END
    source = r["per_layer"] if a.trace else r["end_to_end"]
    metrics = {n: {"value": source[n], "unit": u} for n, u, _ in table}
    print("# " + " ".join(f"{k}={v}" for k, v in fingerprint.items()))
    for p in r["passes"]:
        print(f"# pass {p['index']} {p['kind']} jobs={len(p['jobs'])} "
              f"wall_s={p['wall_s']:.4f} span_s={p['span_s']:.4f} "
              f"jit_s={p['jit_s']:.2f} steal_frac={p['steal_frac']:.4f}"
              + (" traced" if p["traced"] else ""))
    for n, m in metrics.items():
        print(f"{n} = {m['value']:.6g} {m['unit']}")
    for n, v in r["extra"].items():
        print(f"# {n} = {v}")
    if a.trace:
        for n, v in sorted(r["self_s"].items()):
            print(f"# self_s.{n} = {v:.4f}")
    for e in r["errors"]:
        print(f"# error: {e}")
    print(json.dumps({"correct": r["correct"], "attempted": r["attempted"],
                      "failed": r["failed"], "metrics": metrics}))
    sys.exit(0 if r["correct"] else 1)


if __name__ == "__main__":
    main()
