#!/usr/bin/env python3
"""The repo's benchmark: one closed-loop workload run, checked and measured.

    python3 perfbench/run.py --workload dag|linalg --seed N --seconds S --trace 0|1

Run it from the root of a checkout. It builds the harness (perfbench/,
compiled with the repo's sources) on first use, generates the seeded
inputs, runs one JVM (set-up, warm-up passes, then timed passes for at
least S seconds), checks every timed request's output, and prints one
JSON object as its last stdout line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones; with --trace 1 the
per-layer ones (BENCHMARK.json lists both). The full record of the run
(code id, seed, environment, per-request outcomes, both metric sets) goes
to <build dir>/results/*.json. The build dir is $CARGO_TARGET_DIR when
set, else .bench_build; every file the benchmark writes is under it or
under perfbench/ and ../target (the sbt build).
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

import duckdb

sys.dont_write_bytecode = True  # keep perfbench/ free of __pycache__
import gen_tables  # noqa: E402
import metrics  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORKLOADS = ("dag", "linalg")
# Warm-up passes before timing: the cold pass, and on dag one more (its
# generated query code keeps the JIT busy longer); perfbench/README.md has
# the measured warm-up curves and why more do not fit a run.
WARM_PASSES = {"dag": 2, "linalg": 1}
# Timed passes a run makes even when they outlast --seconds, so each
# metric is a median over at least two passes.
MIN_TIMED = 2
# dag's input tables as a fraction of the fixtures' sf=1 row counts
# (linalg generates its matrices inside the JVM).
DAG_SCALE = 0.01
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170

_child = None


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def pinned_env():
    """The run environment: every core, half the RAM up to 4 GiB of heap,
    offline sbt, and no inherited SPARK_GRAFT_* knob (shipped defaults)."""
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    env.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEM": f"{max(1, min(4, kb // 2 // 1048576))}g",
        # Spark scratch under java.io.tmpdir (inside the build dir) instead
        # of /dev/shm, so a run writes only inside its checkout.
        "SPARK_GRAFT_NO_TMPFS": "1",
        "COURSIER_MODE": "offline",
        "SBT_OPTS": "-Dsbt.override.build.repos=true -Dsbt.repository.config="
                    f"{Path.home()}/.sbt/repositories -Dsbt.offline=true -Xmx2g",
    })
    return env


def digest(files, salt=""):
    h = hashlib.sha256(salt.encode())
    for f in files:
        if f.is_file():
            h.update(str(f.relative_to(ROOT)).encode())
            h.update(f.read_bytes())
    return h.hexdigest()[:16]


def build_inputs():
    """Everything the sbt build reads: the repo's sources and build, and
    the harness's."""
    return [ROOT / "build.sbt", *sorted((ROOT / "project").glob("*.properties")),
            *sorted((ROOT / "src" / "main").rglob("*")),
            HERE / "build.sbt", *sorted((HERE / "project").glob("*.properties")),
            *sorted((HERE / "src").rglob("*"))]


def build(build_dir, env):
    """Compile the harness and the repo when their sources (or the heap
    size baked into the JVM options) changed; return the JVM classpath and
    options (the repo's own javaOptions)."""
    stamp = digest(build_inputs(), env["SPARK_DRIVER_MEM"])
    launch = build_dir / "launch.json"
    if launch.is_file():
        cached = json.loads(launch.read_text())
        if cached.get("stamp") == stamp:
            return cached
    build_dir.mkdir(parents=True, exist_ok=True)
    with open(build_dir / "build.log", "w") as log:
        rc = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "-Dsbt.server.autostart=false", "launchFile"],
                       HERE, env, log, BUILD_TIMEOUT_S)
    if rc != 0:
        fail(f"build failed (exit {rc}); see {build_dir / 'build.log'}")
    lines = (HERE / "target" / "launch.txt").read_text().splitlines()
    cached = {"stamp": stamp, "classpath": lines[0], "java_options": lines[1:]}
    launch.write_text(json.dumps(cached))
    return cached


def run_child(cmd, cwd, env, log, timeout):
    """Run a child in its own process group; kill the group on timeout."""
    global _child
    _child = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=log, stderr=subprocess.STDOUT,
                              stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        return _child.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(_child.pid, signal.SIGKILL)
        _child.wait()
        return "timeout"
    finally:
        _child = None


def on_signal(signum, _frame):
    if _child is not None:
        os.killpg(_child.pid, signal.SIGKILL)
        _child.wait()
    sys.exit(128 + signum)


def canonical(df):
    """tools/local_verify.py's comparison form: columns sorted by name,
    rows as '|'-joined strings, sorted."""
    df = df.reindex(sorted(df.columns), axis=1)
    rows = sorted("|".join(map(str, r)) for r in df.astype(str).itertuples(index=False))
    return list(df.columns), rows


def check_outputs(raw, data_dir, first_timed):
    """Request index -> reason, for every timed output that differs from
    the DuckDB oracle of the same entry on the same tables."""
    con = duckdb.connect()
    for t in gen_tables.TABLES:
        p = data_dir / f"{t}.parquet"
        if p.exists():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    want, bad = {}, {}
    for i, r in enumerate(raw["requests"]):
        if r["pass"] < first_timed or r["out"] is None or r["error"] is not None:
            continue
        name = r["name"]
        try:
            if name not in want:
                want[name] = canonical(con.execute(raw["oracles"][name]).fetchdf())
            files = glob.glob(f"{r['out']}/*.parquet")
            got = canonical(con.execute(f"SELECT * FROM read_parquet({files!r})").fetchdf())
        except Exception as e:  # a missing output or oracle fails the request
            bad[i] = f"oracle check error: {type(e).__name__}: {e}"
            continue
        if got != want[name]:
            bad[i] = (f"differs from the DuckDB oracle ({len(got[1])} rows vs "
                      f"{len(want[name][1])}, columns {got[0]} vs {want[name][0]})")
    con.close()
    return bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()
    signal.signal(signal.SIGTERM, on_signal)
    signal.signal(signal.SIGINT, on_signal)

    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        fail(f"no repo sources next to {HERE.name}/ (build.sbt, src/main/scala/graft)")
    env = pinned_env()
    build_dir = (ROOT / os.environ.get("CARGO_TARGET_DIR", ".bench_build")).resolve()
    launch = build(build_dir, env)
    # the record's code id: what was built plus the benchmark's scripts
    code_id = digest(build_inputs() + sorted(HERE.glob("*.py")))

    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{time.strftime('%Y%m%dT%H%M%S')}-{os.getpid()}"
    run_dir = build_dir / "runs" / run_id
    data_dir, out_dir, tmp_dir = run_dir / "data", run_dir / "out", run_dir / "tmp"
    for d in (data_dir, out_dir, tmp_dir):
        d.mkdir(parents=True)
    if args.workload == "dag":
        gen_tables.generate(str(data_dir), args.seed, DAG_SCALE)

    cmd = ["java", *launch["java_options"], f"-Djava.io.tmpdir={tmp_dir}",
           "-cp", launch["classpath"], "perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--warm", str(WARM_PASSES[args.workload]),
           "--min-timed", str(MIN_TIMED), "--data", str(data_dir), "--out", str(out_dir)]
    spawn_ms = time.time() * 1e3
    with open(run_dir / "jvm.log", "w") as log:
        rc = run_child(cmd, run_dir, env, log, RUN_TIMEOUT_S)
    if rc != 0 or not (out_dir / "raw.json").is_file():
        fail(f"benchmark JVM failed (exit {rc}); see {run_dir / 'jvm.log'}")
    raw = json.loads((out_dir / "raw.json").read_text())

    first_timed = min(p["index"] for p in raw["passes"] if p["timed"])
    bad = check_outputs(raw, data_dir, first_timed)
    outcomes = []
    for i, r in enumerate(raw["requests"]):
        reason = r["error"] or bad.get(i)
        # timed requests all count; a warm-up request counts only if it failed
        if r["pass"] >= first_timed or reason:
            outcomes.append({"pass": r["pass"], "name": r["name"],
                             "seconds": (r["end"] - r["start"]) / 1e3, "failure": reason})
    failed = sum(1 for o in outcomes if o["failure"])
    e2e, layers = metrics.compute(raw, spawn_ms)
    shown = {k: (v, metrics.END_TO_END[k]) for k, v in e2e.items()} if not args.trace else \
        {k: (v, metrics.PER_LAYER[k]) for k, v in layers.items()}
    result = {"correct": failed == 0, "attempted": len(outcomes), "failed": failed,
              "metrics": {k: {"value": v, "unit": u} for k, (v, u) in shown.items()}}

    record = {
        "code_id": code_id, "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace, "nproc": os.cpu_count(),
        "env": {k: v for k, v in env.items() if k.startswith("SPARK_GRAFT_") or k == "SPARK_DRIVER_MEM"},
        # per pass: wall time, process CPU time, host steal (all CPUs), JIT time
        "passes": [{"timed": p["timed"], "wall_s": (p["end"] - p["start"]) / 1e3,
                    "cpu_s": p["cpu_ms"] / 1e3, "steal_s": p["steal_ms"] / 1e3,
                    "jit_s": p["jit_ms"] / 1e3} for p in raw["passes"]],
        "failed_frac": metrics.failed_frac(len(outcomes), failed),
        "end_to_end": e2e, "per_layer": layers, "requests": outcomes, "result": result,
    }
    results = build_dir / "results"
    results.mkdir(exist_ok=True)
    (results / f"{run_id}.json").write_text(json.dumps(record, indent=1))
    shutil.move(out_dir / "raw.json", run_dir / "raw.json")
    for d in (data_dir, out_dir, tmp_dir):
        shutil.rmtree(d, ignore_errors=True)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
