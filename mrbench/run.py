#!/usr/bin/env python3
"""MapReduce benchmark for the graft engine: entry point.

    python3 mrbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 mrbench/run.py --all [--seed <n>] [--seconds <s>] [--trace <0|1>]

Run from the root of a checkout. The first call builds the engine and the
benchmark with sbt (offline) and caches the classpath under
`$CARGO_TARGET_DIR/mrbench` (default `.bench_build/mrbench`), keyed on a
hash of the sources. Each run then generates its inputs from the seed in a
fresh directory under that cache, starts one JVM for the workload, checks
the outputs and prints one JSON object as its last line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With `--trace 0` the metrics are the end-to-end ones, with `--trace 1` the
per-layer ones (see README.md). `--all` runs every workload in turn and
prints each metric by name with its unit.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

sys.dont_write_bytecode = True
import gen  # noqa: E402
import layers  # noqa: E402

# registry_core reads the engine's sf0.1 tables, read-only, from the
# directory the engine's own Bench reads; its expected results are for sf0.1
SF_ENV = "SPARK_GRAFT_SF_DIR"

CORPUS = dict(n_docs=10_000, mean_tokens=200, n_files=16)

# A cut of the registry families (TPC-H, graph, dedup, ANN, embedding and
# the canonical MR jobs) small enough for multi-pass runs; README.md says
# how it was chosen.
REGISTRY = [
    "mr_wordcount", "q6_forecast_revenue", "q_dedup_exact", "q_ann_topk",
    "q_embed_centroids", "q_graph_components",
]

# why each workload is there: README.md and BENCHMARK.json
WORKLOADS = ("mr_combine", "mr_holistic", "registry_core")

HEAP = "3g"
# The registry's passes run the Spark planner's large, polymorphic code
# base, which C2 keeps recompiling for far longer than a run lasts: its
# pass times kept falling and its CPU time swung by half between runs.
# With C1 alone the JIT settles during set-up and the passes are steady.
JIT = {"registry_core": ["-XX:TieredStopAtLevel=1"]}
JVM_TIMEOUT_S = 165
JDK17_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
        "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
        "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def log(msg: str) -> None:
    print(f"mrbench: {msg}", file=sys.stderr, flush=True)


def cache_dir() -> Path:
    return ROOT / os.environ.get("CARGO_TARGET_DIR", ".bench_build") / "mrbench"


def source_stamp() -> str:
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", HERE / "build.sbt", HERE / "project" / "build.properties"]
    for d in (ROOT / "project", ROOT / "src" / "main", HERE / "src"):
        files += [p for p in d.rglob("*") if p.is_file() and "target" not in p.parts]
    for p in sorted(set(files)):
        if p.is_file():
            h.update(str(p.relative_to(ROOT)).encode() + b"\0" + p.read_bytes())
    return h.hexdigest()


def build() -> str:
    """Compile the engine and the benchmark; return the runtime classpath."""
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        raise SystemExit(f"mrbench: no engine sources under {ROOT}; run from a full checkout")
    out = cache_dir()
    out.mkdir(parents=True, exist_ok=True)
    stamp = source_stamp()
    cp_file = out / "classpath.txt"
    if cp_file.is_file() and (out / "stamp.txt").is_file() \
            and (out / "stamp.txt").read_text() == stamp:
        return cp_file.read_text().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = "-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g"
    if Path.home().joinpath(".sbt", "repositories").is_file():
        opts += f" -Dsbt.repository.config={Path.home() / '.sbt' / 'repositories'}"
    env.setdefault("SBT_OPTS", opts)
    t0 = time.time()
    log("building engine and benchmark with sbt")
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, stdin=subprocess.DEVNULL,
                       capture_output=True, text=True, timeout=840)
    (out / "build.log").write_text(p.stdout + p.stderr)
    lines = [ln for ln in p.stdout.splitlines() if "scala-2.13/classes" in ln]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-3000:] + p.stderr[-3000:])
        raise SystemExit(f"mrbench: build failed (exit {p.returncode})")
    cp = lines[-1].strip()
    cp_file.write_text(cp)
    (out / "stamp.txt").write_text(stamp)
    log(f"built in {time.time() - t0:.1f} s")
    return cp


def run_jvm(cp: str, workload: str, work: Path, data: str, seconds: int, trace: int,
            cpus: int, queries=None, record=False) -> dict:
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    # no hsperfdata file: the JVM would write it under /tmp, outside the checkout
    cmd = ["java", f"-Xmx{HEAP}", f"-Xms{HEAP}", "-XX:-UsePerfData", *JIT.get(workload, []),
           *JDK17_OPENS, f"-Djava.io.tmpdir={work / 'tmp'}", "-Dspark.ui.enabled=false",
           "-cp", cp, "mrbench.Main", "--workload", workload, "--work", str(work),
           "--data", data, "--seconds", str(seconds), "--trace", str(trace),
           "--cpus", str(cpus)]
    if queries:
        cmd += ["--queries", ",".join(queries)]
    if record:
        cmd += ["--record"]
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(work / "spark-local"))
    with open(work / "jvm.log", "wb") as logf:
        proc = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, env=env)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = "timeout"
    result = work / "result.json"
    if code != 0 or not result.is_file():
        tail = (work / "jvm.log").read_text(errors="replace")[-4000:]
        sys.stderr.write(tail)
        raise SystemExit(f"mrbench: {workload} JVM ended with {code}")
    return json.loads(result.read_text())


def check_registry(check_dir: Path, names, record: bool):
    """Row count and content hash of each query's result, under the
    normalisation of tools/check.py, against the recorded values."""
    import glob
    import importlib.util
    import pandas as pd
    spec = importlib.util.spec_from_file_location("graft_check", ROOT / "tools" / "check.py")
    check = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(check)
    expected_path = HERE / "registry_expected.json"
    expected = {} if record else json.loads(expected_path.read_text())
    got, bad = {}, []
    for n in names:
        files = sorted(glob.glob(str(check_dir / n / "*.parquet")))
        if not files:
            bad.append(f"{n}: no output")
            continue
        df = check.normalize(pd.concat([pd.read_parquet(f) for f in files], ignore_index=True))
        got[n] = {"rows": len(df),
                  "sha256": hashlib.sha256(df.to_csv(index=False).encode()).hexdigest()}
        if not record and got[n] != expected.get(n):
            bad.append(f"{n}: {got[n]} vs recorded {expected.get(n)}")
    if record:
        expected_path.write_text(json.dumps(got, indent=1, sort_keys=True) + "\n")
    return bad


def run(args) -> dict:
    cp = build()
    cpus = len(os.sched_getaffinity(0))
    work = cache_dir() / f"run-{os.getpid()}-{time.time_ns()}"
    work.mkdir(parents=True)
    try:
        t_setup = time.time()
        sizes, queries = {}, None
        if args.workload == "registry_core":
            data = os.environ.get(SF_ENV)
            if not data:
                raise SystemExit(f"mrbench: registry_core needs {SF_ENV} (the sf0.1 tables)")
            queries = list(REGISTRY)
            random.Random(args.seed).shuffle(queries)
        else:
            data = str(work / "data")
            sizes = gen.generate(args.seed, data, parquet=args.workload == "mr_combine",
                                 text=args.workload == "mr_holistic", **CORPUS)
            log(f"{args.workload} input: {json.dumps(sizes, sort_keys=True)}")
        res = run_jvm(cp, args.workload, work, data, args.seconds, args.trace, cpus,
                      queries, args.record)
        failed, attempted = res["failed"], res["attempted"]
        errors = list(res["errors"])
        if args.workload == "registry_core":
            bad = check_registry(work / "check", queries, args.record)
            if args.record:
                # kept for tools/check.py, which confirms the recorded results against DuckDB
                shutil.copytree(work / "check", cache_dir() / "registry-check", dirs_exist_ok=True)
            failed += len(bad)
            errors += bad
        for e in errors:
            log(f"FAILED {e}")

        untraced = [p for p in res["passes"] if not p["traced"]]
        log(f"set-up: inputs {res['jvm_start_ms'] / 1000 - t_setup:.2f} s, session "
            f"{(res['session_ms'] - res['jvm_start_ms']) / 1000:.2f} s, renders, checks and warm "
            f"pass {(res['first_pass_ms'] - res['session_ms']) / 1000:.2f} s (checks "
            f"{res['check_s']:.2f} s); timed {res['timed_s']:.2f} s; "
            f"{time.time() - t_setup:.2f} s since set-up began")
        log(f"{args.workload}: {len(res['passes'])} passes, walls "
            + " ".join(f"{p['wall_s']:.3f}{'t' if p['traced'] else ''}" for p in res["passes"]))
        if args.trace:
            spans = [json.loads(ln) for ln in (work / "spans.jsonl").read_text().splitlines()]
            metrics, counters = layers.per_layer(spans, res, args.workload, sizes)
            metrics["failed_frac"] = (failed / attempted, "ratio")
            keep = cache_dir() / "traces"
            keep.mkdir(exist_ok=True)
            shutil.copy(work / "spans.jsonl", keep / f"{args.workload}-seed{args.seed}.spans.jsonl")
            cpath = keep / f"{args.workload}-seed{args.seed}.counters.json"
            cpath.write_text(json.dumps(counters, indent=1, sort_keys=True) + "\n")
            log(f"spans and exact counters written to {keep}")
        else:
            metrics = {
                "wall_s": (statistics.median(p["wall_s"] for p in untraced), "s"),
                "cpu_s": (statistics.median(p["cpu_s"] for p in untraced), "s"),
                "peak_heap_mb": (res["heap_after_gc_peak"] / 1e6, "MB"),
                "setup_s": (res["first_pass_ms"] / 1000 - t_setup, "s"),
            }
        return {"correct": failed == 0, "attempted": attempted, "failed": failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--all", action="store_true", help="run every workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true",
                    help="registry_core: record row counts and hashes as the expected values")
    args = ap.parse_args()
    if args.all:
        ok = True
        for w in sorted(WORKLOADS):
            if w == "registry_core" and not os.environ.get(SF_ENV):
                log(f"skipping registry_core: {SF_ENV} is not set")
                continue
            args.workload = w
            out = run(args)
            ok &= out["correct"]
            print(f"{w}: correct={out['correct']} attempted={out['attempted']} failed={out['failed']}")
            for k, m in out["metrics"].items():
                print(f"  {k:28s} {m['value']:14.4f} {m['unit']}")
        sys.exit(0 if ok else 1)
    if not args.workload:
        ap.error("--workload or --all is required")
    print(json.dumps(run(args)))


if __name__ == "__main__":
    main()
