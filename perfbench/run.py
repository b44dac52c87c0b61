"""perfbench: the repo benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the program and the
benchmark with sbt (offline) and caches the classpath under .bench_build/;
every run then generates its inputs from the seed, runs one workload in one
JVM (Spark local[k], k = min(4, cores)), checks every output, and prints
human-readable lines followed by one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are END_TO_END, with --trace 1 PER_LAYER.
See perfbench/README.md for the workloads and what each metric means.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402

WORKLOADS = {
    "nyc_backfill": "nyc",
    "corpus_dedup": "corpus",
}

END_TO_END = [
    ("wall_s", "s"), ("rows_per_s", "rows/s"), ("peak_rss_mb", "MB"), ("setup_s", "s"),
]

_SPAN = ["self_s", "calls", "jobs", "tasks", "shuffle_write_mb", "spill_mb", "rows_written"]
_DIMS = ["dim_date", "dim_type", "dim_vendor", "dim_payment", "dim_rate"]
_QUERIES = ["q20_minhash_pairs", "q58_semantic_dedup", "q92_knn_graph_lsh",
            "q207_containment", "q208_containment_corpus", "q209_excerpt_scrub"]
PER_LAYER = (
    [f"spark.{m}" for m in ("executor_cpu_s", "gc_s", "sched_wait_s", "task_failures")]
    + ["trace.overhead", "jvm.heap_after_gc_mb"]
    + [f"nyc.backfill.{m}" for m in ("self_s", "calls", "jobs")]
    + [f"nyc.bronze.{m}" for m in _SPAN]
    + [f"nyc.silver.{m}" for m in _SPAN]
    + [f"nyc.gold.dims.{d}.{m}" for d in _DIMS for m in ("self_s", "calls", "jobs")]
    + [f"nyc.gold.fact.fact_nyc.{m}" for m in _SPAN]
    + [f"nyc.platinum.{t}.{m}" for t in ("report_monthly", "report_weekly") for m in _SPAN]
    + [f"catalog.read.{m}" for m in ("self_s", "calls", "jobs")]
    + [f"query.{q}.{m}" for q in _QUERIES
       for m in ("self_s", "jobs", "tasks", "shuffle_write_mb", "spill_mb", "shuffle_rows")]
    + [f"{s}.{m}" for s in ("streaming.tick", "streaming.quiescent")
       for m in ("self_s", "jobs", "tasks", "shuffle_write_mb")]
    + [f"catalog.write.{t}.{m}" for t in ("corpus", "state")
       for m in ("self_s", "calls", "jobs", "rows_written")]
)
PER_LAYER_UNITS = {"self_s": "s", "calls": "count", "jobs": "count", "tasks": "count",
                   "shuffle_write_mb": "MB", "spill_mb": "MB", "rows_written": "rows",
                   "shuffle_rows": "rows", "executor_cpu_s": "s", "gc_s": "s",
                   "sched_wait_s": "s", "task_failures": "count", "overhead": "ratio",
                   "heap_after_gc_mb": "MB"}

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]

RUN_TIMEOUT_S = 170
HEAP = "1536m"


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def unit_of(metric):
    return PER_LAYER_UNITS[metric.rsplit(".", 1)[1]]


# ----------------------------------------------------------------- build


def source_hash(root):
    """Hash of every input of the build, so a cached classpath is reused only
    for the sources it was built from."""
    h = hashlib.sha256()
    inputs = ["build.sbt", "project/build.properties",
              "perfbench/build.sbt", "perfbench/project/build.properties"]
    for base in ("src/main", "perfbench/src/main"):
        for d, _, files in sorted(os.walk(os.path.join(root, base))):
            inputs += [os.path.relpath(os.path.join(d, f), root) for f in sorted(files)]
    for rel in sorted(inputs):
        h.update(rel.encode())
        with open(os.path.join(root, rel), "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    return env


def build(root, cache, deadline):
    cp_file = os.path.join(cache, f"classpath-{source_hash(root)}.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            return f.read().strip()
    log("building the program and the benchmark with sbt")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           "perfbench/compile", "export perfbench/Runtime/fullClasspath"]
    proc = subprocess.Popen(cmd, cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE,
                            stderr=subprocess.STDOUT, text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=max(1, deadline - time.time()))
    except subprocess.TimeoutExpired:
        stop(proc)
        raise SystemExit("perfbench: build timed out")
    lines = out.strip().splitlines()
    if proc.returncode != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write(out[-4000:])
        raise SystemExit(f"perfbench: build failed (sbt exit {proc.returncode})")
    classpath = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(classpath)
    return classpath


def stop(proc):
    """Stop a child and everything it started, and wait for it to end."""
    try:
        os.killpg(proc.pid, signal.SIGTERM)
        proc.wait(timeout=10)
    except (ProcessLookupError, subprocess.TimeoutExpired):
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()


# ------------------------------------------------------------------ data


def generate(kind, seed, data_dir):
    """Write the workload's inputs; return the time it took."""
    t0 = time.perf_counter()
    getattr(gen, kind)(seed, os.path.join(data_dir, kind))
    return time.perf_counter() - t0


# --------------------------------------------------------------- metrics


def cycles(ops, traced):
    """(wall, rows) per timed cycle, traced or untraced."""
    by = {}
    for o in ops:
        if o["timed"] and o["traced"] == traced:
            w, r = by.get(o["cycle"], (0.0, 0))
            by[o["cycle"]] = (w + o["wall_s"], r + o["rows"])
    return list(by.values())


def summarize(res, gen_s):
    ops = res["ops"]
    failed_ops = {o["id"] for o in ops if "error" in o}
    wrong = False
    for c in res["checks"]:
        if not c["ok"]:
            failed_ops.add(c["op"])
            wrong = wrong or not c["error"]
    plain = cycles(ops, traced=False)
    wall = statistics.median(w for w, _ in plain)
    setup = gen_s + sum(res["setup"].values())
    e2e = {
        "wall_s": wall,
        "rows_per_s": statistics.median(r / w for w, r in plain),
        "peak_rss_mb": res["peak_rss_mb"],
        "setup_s": setup,
    }
    extra = {"ops_failed": (len(failed_ops), len(ops))}
    for kind in ("tick", "quiescent"):
        walls = [o["wall_s"] for o in ops if o["timed"] and not o["traced"]
                 and o["kind"].endswith("." + kind)]
        if walls:
            extra[f"{kind}_p50_s"] = statistics.median(walls)
    return e2e, extra, wrong, len(failed_ops), len(ops)


def layers(res):
    out = {m: 0.0 for m in PER_LAYER}
    for k, v in res.get("layers", {}).items():
        if k in out:
            out[k] = v
    out["jvm.heap_after_gc_mb"] = res["peak_heap_after_gc_mb"]
    traced = cycles(res["ops"], traced=True)
    plain = cycles(res["ops"], traced=False)
    if traced and plain:
        out["trace.overhead"] = (statistics.median(w for w, _ in traced)
                                 / statistics.median(w for w, _ in plain))
    return out


# ------------------------------------------------------------------ main


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    started = time.time()

    root = os.path.dirname(HERE)
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala", "graft"))):
        log("no program sources next to perfbench/ (build.sbt, src/main/scala/graft); "
            "run from the root of a checkout")
        return 2
    cache = os.path.join(root, ".bench_build", "perfbench")
    os.makedirs(cache, exist_ok=True)
    # a first run builds (up to 15 minutes); later runs keep to the run budget
    classpath = build(root, cache, started + 850)
    run_started = time.time()

    kind = WORKLOADS[args.workload]
    data = os.path.join(cache, "data")
    shutil.rmtree(data, ignore_errors=True)
    os.makedirs(data)
    gen_s = generate(kind, args.seed, data)

    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = os.path.join(cache, "work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    outdir = os.path.join(cache, "out", tag)
    os.makedirs(outdir, exist_ok=True)
    result = os.path.join(outdir, "result.json")
    if os.path.exists(result):
        os.remove(result)
    cmd = (["java", f"-Xmx{HEAP}",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
           + [a for p in JDK_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Main", "--workload", args.workload,
              "--seed", str(args.seed), "--seconds", str(args.seconds),
              "--trace", str(args.trace), "--data", data, "--work", work,
              "--out", result])
    proc = subprocess.Popen(cmd, cwd=work, stdout=sys.stderr, stderr=sys.stderr,
                            start_new_session=True)
    try:
        code = proc.wait(timeout=max(1, run_started + RUN_TIMEOUT_S - time.time()))
    except subprocess.TimeoutExpired:
        stop(proc)
        log("run timed out")
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
        shutil.rmtree(data, ignore_errors=True)
    if code != 0 or not os.path.exists(result):
        log(f"benchmark JVM failed (exit {code})")
        return 1
    with open(result) as f:
        res = json.load(f)

    e2e, extra, wrong, failed, attempted = summarize(res, gen_s)
    for name, unit in END_TO_END:
        print(f"{args.workload} {name} {e2e[name]:.6g} {unit}")
    for name, value in extra.items():
        if name == "ops_failed":
            print(f"{args.workload} ops_failed {value[0]}/{value[1]} failed/attempted")
        else:
            print(f"{args.workload} {name} {value:.6g} s")
    if args.trace:
        metrics = {m: {"value": v, "unit": unit_of(m)} for m, v in layers(res).items()}
        print(f"{args.workload} spans in {os.path.relpath(outdir, root)}/spans.jsonl")
    else:
        metrics = {name: {"value": e2e[name], "unit": unit} for name, unit in END_TO_END}
    print(json.dumps({"correct": not wrong, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
