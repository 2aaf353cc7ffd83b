#!/usr/bin/env python3
"""Benchmark of the graft Spark engine: workloads of `graft.SparkEntry.queries`
over the sf0.1 tables in perfbench/data, each query built and then fully
materialized through Spark's `noop` sink.

    python3 perfbench/run.py --workload matrix_ops --seed 1 --seconds 20 --trace 0

Run it from the root of a checkout. The first run builds the program and the
harness with sbt (about a minute) into target/ directories and
.bench_build/; later runs reuse the build while the sources are unchanged.

One run is one JVM with one closed-loop client. It sets up (JVM and
SparkSession start, `GraftExtensions.register`, one untimed pass that
digests every query's output and checks it against perfbench/digests.json,
then one untimed warm-up pass) and then runs timed passes until
--seconds have gone by, three at least. --seed permutes the
query order of every pass. The last line of stdout is the result: with
--trace 0 the end-to-end metrics, with --trace 1 the per-layer metrics
(after a first untraced pass, passes go traced, untraced, untraced, traced,
..., five at least, so the tracing overhead is measured in the same JVM).
The line before it records the environment. The full
result, with per-query detail, goes to .bench_build/perfbench/results/.

--record-digests rewrites perfbench/digests.json from this run's outputs.
See perfbench/BENCHMARK.md for the workloads, metrics and layers.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build" / "perfbench"
DATA = HERE / "data" / "sf0.1"
PINNED = HERE / "digests.json"

WORKLOADS = {
    # the paper's matrix vocabulary over the ~20k-row count matrix: little
    # data per query, so planning, codegen and job barriers dominate
    "matrix_ops": ["q_filter_dsl", "q_sort_topk", "q_cpm", "q_agglo", "q_vst"],
    # corpus pipelines: per-row native kernels, gram shuffles, fan-out caches
    "text_dedup": ["q_dedup_minhash", "q_text_curation"],
}

END_TO_END = {
    "setup_s": "s", "pass_s": "s", "query_p50_s": "s", "cpu_s": "s",
    "heap_peak_mb": "MB",
}

PER_LAYER = {
    "SparkEntry.build_s": "s", "SparkEntry.eager_actions": "count",
    "SparkEntry.eager_jobs": "count",
    "plans.analysis_s": "s", "plans.optimization_s": "s", "plans.planning_s": "s",
    "plans.codegen_compiles": "count", "plans.codegen_s": "s",
    "exec.final_s": "s", "exec.jobs": "count", "exec.stages": "count",
    "exec.tasks": "count", "exec.stage_busy_s": "s", "exec.driver_gap_s": "s",
    "exec.parallelism": "ratio", "exec.task_cpu_s": "s", "exec.task_gc_s": "s",
    "shuffle.write_mb": "MB", "shuffle.read_mb": "MB", "shuffle.spill_mb": "MB",
    "sources.input_mb": "MB", "sources.input_rows": "count",
    "sources.output_mb": "MB", "sources.write_amp": "ratio",
    "core.cache_scans": "count", "core.persisted_after": "count",
    "core.cached_mb_peak": "MB", "trace.overhead": "ratio",
}

# summed per query into a pass total, straight from the harness's counters
SUMMED = {
    "SparkEntry.build_s": "build_s", "SparkEntry.eager_actions": "eager_actions",
    "SparkEntry.eager_jobs": "eager_jobs", "plans.analysis_s": "analysis_s",
    "plans.optimization_s": "optimization_s", "plans.planning_s": "planning_s",
    "plans.codegen_compiles": "codegen_compiles", "plans.codegen_s": "codegen_s",
    "exec.final_s": "final_s", "exec.jobs": "jobs", "exec.stages": "stages",
    "exec.tasks": "tasks", "exec.task_cpu_s": "task_cpu_s",
    "exec.task_gc_s": "task_gc_s", "shuffle.write_mb": "shuffle_write_mb",
    "shuffle.read_mb": "shuffle_read_mb", "shuffle.spill_mb": "spill_mb",
    "sources.input_mb": "input_mb", "sources.input_rows": "input_rows",
    "sources.output_mb": "output_mb", "core.cache_scans": "cache_scans",
    "core.persisted_after": "persisted_after",
}

# Spark 4 on JDK 17 outside spark-submit (same list as the root build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


class BenchError(Exception):
    pass


# ---- helpers (covered by perfbench/tests) ----

def median(values):
    if not values:
        raise ValueError("median of no values")
    return statistics.median(values)


def interval_union(spans):
    """Total length covered by a set of [start, end] intervals."""
    total = 0
    cur_start = cur_end = None
    for start, end in sorted(spans):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def digest_failures(digests, pinned):
    """Queries whose output digest is missing, errored or differs from the pin."""
    bad = []
    for q, d in sorted(digests.items()):
        p = pinned["queries"].get(q)
        if "error" in d or p is None or (d["rows"], d["hash"]) != (p["rows"], p["hash"]):
            bad.append(q)
    return bad


def query_layers(q):
    """Derived per-query layer values of one traced execution."""
    lay = q["layers"]
    out = {m: float(q[k] if k in ("build_s", "final_s") else lay[k]) for m, k in SUMMED.items()}
    out["exec.stage_busy_s"] = interval_union(lay["stage_spans"]) / 1000.0
    out["task_run_s"] = float(lay["task_run_s"])
    out["core.cached_mb_peak"] = float(lay["cached_mb_peak"])
    return out


def with_ratios(tot, task_run_s):
    """Add the layer values derived from the summed counters."""
    busy = tot["exec.stage_busy_s"]
    tot["exec.driver_gap_s"] = tot["SparkEntry.build_s"] + tot["exec.final_s"] - busy
    tot["exec.parallelism"] = task_run_s / busy if busy else 0.0
    tot["sources.write_amp"] = (tot["sources.output_mb"] / tot["sources.input_mb"]
                                if tot["sources.input_mb"] else 0.0)
    return tot


def query_table(traced_passes):
    """Each query's layer values, median over the traced passes."""
    runs = {}
    for p in traced_passes:
        for q in p["queries"]:
            runs.setdefault(q["name"], []).append(
                with_ratios(query_layers(q), float(q["layers"]["task_run_s"])))
    return {name: {m: median([r[m] for r in rs]) for m in rs[0] if m != "task_run_s"}
            for name, rs in sorted(runs.items())}


def pass_layers(p):
    """Per-layer totals of one traced pass."""
    per_query = [query_layers(q) for q in p["queries"]]
    tot = {m: sum(x[m] for x in per_query) for m in SUMMED}
    tot["exec.stage_busy_s"] = sum(x["exec.stage_busy_s"] for x in per_query)
    # a peak, not a volume: the largest any one query reached
    tot["core.cached_mb_peak"] = max(x["core.cached_mb_peak"] for x in per_query)
    return with_ratios(tot, sum(x["task_run_s"] for x in per_query))


def pass_totals(p):
    """A pass's time (build plus materialization, summed over its queries),
    CPU time over the same windows, and the largest live heap after a query."""
    qs = p["queries"]
    return (sum(q["build_s"] + q["final_s"] for q in qs), sum(q["cpu_s"] for q in qs),
            max(q["heap_mb"] for q in qs))


def latencies(passes):
    """Latency (build plus materialization) of every query execution of the passes."""
    return [q["build_s"] + q["final_s"] for p in passes for q in p["queries"]]


def score(raw, launch_time, pinned, trace):
    """Turn the harness's raw observations into the result line."""
    passes = raw["passes"]
    bad_digests = digest_failures(raw["digests"], pinned)
    executions = [q for p in passes for q in p["queries"]]
    failed_execs = [q for q in executions if q["error"] is not None]
    attempted = len(raw["digests"]) + len(executions)
    failed = len(bad_digests) + len(failed_execs)
    plain = [p for p in passes if not p["traced"]]
    if trace:
        traced = [p for p in passes if p["traced"]]
        per_pass = [pass_layers(p) for p in traced]
        values = {m: median([x[m] for x in per_pass]) for m in PER_LAYER if m != "trace.overhead"}
        # the first pass runs the coldest code and has no traced twin
        values["trace.overhead"] = (
            median([pass_totals(p)[0] for p in traced])
            / median([pass_totals(p)[0] for p in passes[1:] if not p["traced"]]))
        units = PER_LAYER
    else:
        values = {
            "setup_s": raw["setup_end_ms"] / 1000.0 - launch_time,
            "pass_s": median([pass_totals(p)[0] for p in plain]),
            "query_p50_s": median(latencies(plain)),
            "cpu_s": median([pass_totals(p)[1] for p in plain]),
            "heap_peak_mb": median([pass_totals(p)[2] for p in plain]),
        }
        units = END_TO_END
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {m: {"value": values[m], "unit": units[m]} for m in units},
    }, bad_digests, failed_execs


# ---- build ----

def build_inputs(root):
    files = [root / "build.sbt", root / "project" / "build.properties",
             HERE / "build.sbt", HERE / "project" / "build.properties"]
    for src in (root / "src" / "main", HERE / "src"):
        files += sorted(p for p in src.rglob("*") if p.is_file())
    return files


def source_stamp(root):
    h = hashlib.sha256()
    for f in build_inputs(root):
        h.update(str(f.relative_to(root)).encode() + b"\0" + f.read_bytes() + b"\0")
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Dsbt.override.build.repos=true", "-Xmx3g"]
        repos = Path.home() / ".sbt" / "repositories"
        if repos.is_file():
            opts.append(f"-Dsbt.repository.config={repos}")
        env["SBT_OPTS"] = " ".join(opts)
    return env


def ensure_built(root):
    """Compile the program and the harness if their sources changed; return
    the runtime classpath."""
    if not (root / "src" / "main" / "scala").is_dir() or not (root / "build.sbt").is_file():
        raise BenchError(f"program sources not found under {root}")
    BUILD.mkdir(parents=True, exist_ok=True)
    stamp = source_stamp(root)
    stamp_file, cp_file = BUILD / "stamp", BUILD / "classpath"
    if stamp_file.is_file() and cp_file.is_file() and stamp_file.read_text() == stamp:
        return cp_file.read_text()
    log = BUILD / "build.log"
    with open(log, "w") as out:
        rc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "export perfbench/Runtime/fullClasspath"],
            cwd=HERE, env=sbt_env(), stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=700).returncode
    lines = log.read_text().splitlines()
    cp = next((ln for ln in reversed(lines) if ln.endswith(".jar") and os.pathsep in ln), None)
    if rc != 0 or cp is None:
        raise BenchError(f"build failed (rc {rc}); see {log}")
    cp_file.write_text(cp)
    stamp_file.write_text(stamp)
    return cp


# ---- environment ----

def cpus():
    return len(os.sched_getaffinity(0))


def heap_size():
    """Half the machine's memory in whole GiB, within [2, 8] (the tier-1
    test command's sizing)."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration, ValueError):
        return "2g"


def cpu_times():
    """Busy and stolen CPU time of the whole machine, in clock ticks (None
    where /proc/stat is not available)."""
    try:
        with open("/proc/stat") as f:
            t = [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return None
    return sum(t[:8]), t[7] if len(t) > 7 else 0


def steal_share(start, end):
    """Share of the machine's CPU time that the hypervisor gave to others
    between two cpu_times() readings: host noise that slows every timing."""
    if start is None or end is None or end[0] == start[0]:
        return None
    return (end[1] - start[1]) / (end[0] - start[0])


def source_id(root):
    """The git commit when the checkout is a repository, else None."""
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.TimeoutExpired):
        return None


def java_command(cp, heap, main_args):
    opens = [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    tmp = BUILD / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    # no hsperfdata file outside the checkout; temp and shuffle files inside it
    return (["java", f"-Xmx{heap}", "-XX:-UsePerfData", *opens, f"-Djava.io.tmpdir={tmp}",
             f"-Dspark.local.dir={tmp}", "-cp", cp, "perfbench.Main"] + main_args)


def run_jvm(cmd, log_path, timeout):
    """Run the harness JVM to completion (killing it on timeout)."""
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=BUILD, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            return proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise BenchError(f"harness JVM timed out after {timeout} s")


def load_pins(path):
    """Pinned digests: the core counts they were checked at, and per query
    the row count and hash."""
    return json.loads(path.read_text()) if path.is_file() else {"cores": [], "queries": {}}


def record_pins(path, digests, ncpu):
    """Pin this run's digests. The core count joins the checked ones when
    the digests agree with the pins, and replaces them when they do not."""
    errors = {q: d for q, d in digests.items() if "error" in d}
    if errors:
        raise BenchError(f"not recording digests, queries failed: {errors}")
    pins = load_pins(path)
    same = all(pins["queries"].get(q) == d for q, d in digests.items())
    pins["cores"] = sorted(set(pins["cores"]) | {ncpu}) if same else [ncpu]
    pins["queries"] = dict(sorted({**pins["queries"], **digests}.items()))
    path.write_text(json.dumps(pins, indent=1) + "\n")


# ---- main ----

def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--pinned", type=Path, default=PINNED,
                    help="digest file the outputs are checked against")
    ap.add_argument("--record-digests", action="store_true",
                    help="write this run's output digests to --pinned")
    args = ap.parse_args(argv)

    cp = ensure_built(ROOT)
    if not DATA.is_dir():
        raise BenchError(f"input tables not found at {DATA}")
    ncpu = cpus()
    heap = heap_size()
    raw_file = BUILD / f"raw-{os.getpid()}.json"
    launch = time.time()
    cpu_start = cpu_times()
    jvm_log = BUILD / f"jvm-{os.getpid()}.log"
    rc = run_jvm(java_command(cp, heap, [
        "--data", str(DATA), "--queries", ",".join(WORKLOADS[args.workload]),
        "--seed", str(args.seed), "--seconds", str(args.seconds),
        "--trace", str(args.trace), "--cores", str(ncpu),
        "--out", str(raw_file)]), jvm_log, timeout=args.seconds * 3 + 140)
    if rc != 0 or not raw_file.is_file():
        raise BenchError(f"harness JVM failed (rc {rc}); see {jvm_log}")
    cpu_steal = steal_share(cpu_start, cpu_times())
    raw = json.loads(raw_file.read_text())
    raw_file.unlink()
    jvm_log.unlink()

    if args.record_digests:
        record_pins(args.pinned, raw["digests"], ncpu)
    pinned = load_pins(args.pinned)
    if ncpu not in pinned["cores"]:
        # results must not depend on the core count, so they are still checked
        print(f"note: digests were pinned at {pinned['cores']} cores, not at {ncpu}",
              file=sys.stderr)

    result, bad_digests, failed_execs = score(raw, launch, pinned, args.trace == 1)
    env = dict(raw["env"], workload=args.workload,
               session_s=raw["session_ready_ms"] / 1000.0 - launch, trace=args.trace, heap=heap,
               git_sha=source_id(ROOT), source_sha256=source_stamp(ROOT),
               digests_pinned_at_cores=pinned["cores"], cpu_steal=cpu_steal,
               passes=len(raw["passes"]))
    detail = {"env": env, "result": result, "digests": raw["digests"],
              "digest_mismatches": bad_digests,
              "failed_executions": [(q["name"], q["error"]) for q in failed_execs],
              "passes": raw["passes"]}
    if args.trace:
        detail["per_query"] = query_table([p for p in raw["passes"] if p["traced"]])
    out_dir = BUILD / "results"
    out_dir.mkdir(parents=True, exist_ok=True)
    (out_dir / f"{args.workload}-seed{args.seed}-trace{args.trace}.json").write_text(
        json.dumps(detail, indent=1) + "\n")

    for q in bad_digests:
        print(f"output check failed: {q}: {raw['digests'][q]} vs pinned "
              f"{pinned['queries'].get(q)}",
              file=sys.stderr)
    for q in failed_execs:
        print(f"query failed: {q['name']}: {q['error']}", file=sys.stderr)
    for name, m in result["metrics"].items():
        print(f"{name:28s} {m['value']:14.6f} {m['unit']}")
    print(f"{'failed_frac':28s} {result['failed'] / result['attempted']:14.6f} ratio")
    print(json.dumps({"env": env}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main(sys.argv[1:]))
    except (BenchError, subprocess.TimeoutExpired, OSError) as e:
        print(f"perfbench: {e}", file=sys.stderr)
        sys.exit(2)
    finally:
        shutil.rmtree(BUILD / "tmp", ignore_errors=True)
