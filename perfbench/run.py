"""Benchmark entry point (see perfbench/NOTES.md).

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
        Build if needed, run one measured run, print its result as the
        last stdout line, append the full record to
        .bench_build/results/records.jsonl.
    python3 perfbench/run.py --compare OLD.jsonl NEW.jsonl
        Per workload and end-to-end metric: medians, quartiles and a
        better / worse / unresolved verdict under BENCHMARK.json's bounds.
    python3 perfbench/run.py --record-fingerprints
        Re-record perfbench/fingerprints.json from the current program.

Run from the root of a checkout. Everything it writes stays under
.bench_build/ (and, for --record-fingerprints, perfbench/).
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import build  # noqa: E402

ROOT = build.ROOT
BENCH = os.path.join(ROOT, "BENCHMARK.json")
DATA = os.path.join(HERE, "data", "sf0.01")
FINGERPRINTS = os.path.join(HERE, "fingerprints.json")
RESULTS = os.path.join(build.BUILD, "results", "records.jsonl")
RUN_TIMEOUT_S = 170

ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def spec():
    with open(BENCH) as f:
        return json.load(f)


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def java(classes, work, args, cpus):
    """Run perfbench.Main in its own process group; kill it on timeout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # -XX:-UsePerfData: the JVM would otherwise write hsperfdata outside the checkout
    cmd = (["java", "-Xmx3g", "-Xss16m", "-XX:+UseParallelGC", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}"]
           + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS]
           + ["-cp", classes + os.pathsep + os.path.join(build.spark_jars(), "*"),
              "perfbench.Main", "--work", work] + args)
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus),
               SPARK_LOCAL_DIRS=os.path.join(tmp, "spark-local"))
    env.pop("SPARK_CONF_DIR", None)
    p = subprocess.Popen(cmd, cwd=work, env=env, stdout=sys.stderr, stderr=sys.stderr,
                         start_new_session=True)
    try:
        return p.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise SystemExit(f"run: timed out after {RUN_TIMEOUT_S}s")
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


# The layers each workload calls, by metric-name prefix.
LAYERS = {
    "medallion": {"pipeline", "landing", "bronze", "stream", "finalize", "silver", "gold",
                  "versions", "lake", "freshness", "reader"},
    "query_mix": {"dedup", "similarity", "streaming", "parity", "relational", "text", "warehouse"},
}


def other_layer(workload, metric):
    prefix = metric.split(".")[0]
    return prefix not in LAYERS[workload] and any(prefix in v for v in LAYERS.values())


def run_once(a):
    s = spec()
    if a.workload not in [w["name"] for w in s["workloads"]]:
        raise SystemExit(f"run: unknown workload {a.workload}")
    classes = build.build()
    work = os.path.join(build.BUILD, "work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = os.path.join(work, "record.json")
    try:
        code = java(classes, work, [
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--data", DATA, "--fingerprints", FINGERPRINTS,
            "--out", out], cores())
        if code != 0 or not os.path.exists(out):
            raise SystemExit(f"run: benchmark JVM exited with code {code}")
        with open(out) as f:
            rec = json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if a.trace == 0:
        wanted, source = s["end_to_end"], rec["metrics"]
    else:
        # a layer this workload never calls reports 0; any other gap is an error
        wanted = s["per_layer"]
        source = {m["name"]: rec["layers"].get(m["name"], 0.0 if other_layer(a.workload, m["name"]) else None)
                  for m in wanted}
    missing = [m["name"] for m in wanted if source.get(m["name"]) is None]
    if missing:
        raise SystemExit(f"run: record lacks metrics {missing}")
    metrics = {m["name"]: {"value": source[m["name"]], "unit": m["unit"]} for m in wanted}
    os.makedirs(os.path.dirname(RESULTS), exist_ok=True)
    with open(RESULTS, "a") as f:
        f.write(json.dumps(rec) + "\n")
    print(json.dumps({"correct": rec["correct"], "attempted": rec["attempted"],
                      "failed": rec["failed"], "metrics": metrics}), flush=True)


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def load_records(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def compare(old_path, new_path):
    """Print medians, quartiles and a verdict per workload and metric.

    worse: the median moved the bad way by more than the metric's bound
    (the change the benchmark rejects); better: it moved the good way and
    the quartile ranges do not overlap; unresolved: anything else.
    """
    s = spec()
    old, new = load_records(old_path), load_records(new_path)
    for w in [w["name"] for w in s["workloads"]]:
        o = [r for r in old if r["workload"] == w and r["trace"] == 0]
        n = [r for r in new if r["workload"] == w and r["trace"] == 0]
        if not o or not n:
            print(f"{w}: no untraced records in both files")
            continue
        print(f"{w}  (runs {len(o)} vs {len(n)}; loadavg median "
              f"{statistics.median(r['loadavg_1m']['before'] for r in o):.2f} vs "
              f"{statistics.median(r['loadavg_1m']['before'] for r in n):.2f})")
        for m in s["end_to_end"]:
            a = quartiles([r["metrics"][m["name"]] for r in o])
            b = quartiles([r["metrics"][m["name"]] for r in n])
            sign = 1 if m["better"] == "lower" else -1
            change = sign * (b[1] - a[1]) / a[1] if a[1] else 0.0
            disjoint = b[2] < a[0] or b[0] > a[2]
            verdict = ("worse" if change > m["bound"]
                       else "better" if change < 0 and disjoint else "unresolved")
            print(f"  {m['name']:<14} {a[1]:>11.4f} [{a[0]:.4f}, {a[2]:.4f}] -> "
                  f"{b[1]:>11.4f} [{b[0]:.4f}, {b[2]:.4f}] {m['unit']:<6} "
                  f"{change:+7.1%} {verdict}")
        for label, recs in (("old", old), ("new", new)):
            untraced = [r["metrics"]["op_s"] for r in recs if r["workload"] == w and r["trace"] == 0]
            traced = [r["layers"]["trace.op_s"] for r in recs if r["workload"] == w and r["trace"] == 1]
            if untraced and traced:
                print(f"  tracing overhead ({label}): "
                      f"{statistics.median(traced) - statistics.median(untraced):+.4f} s per op")


def record_fingerprints():
    """Record at two core counts; keep a hash only if every run agrees."""
    classes = build.build()
    merged = None
    for cpus in (2, 4):
        work = os.path.join(build.BUILD, "work", f"record-{cpus}")
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(work)
        out = os.path.join(work, "fingerprints.json")
        if java(classes, work, ["--record-fingerprints", "--data", DATA,
                                "--fingerprints", out, "--out", out], cpus) != 0:
            raise SystemExit("record: JVM failed")
        with open(out) as f:
            got = json.load(f)["queries"]
        shutil.rmtree(work, ignore_errors=True)
        if merged is None:
            merged = got
            continue
        for q, fp in got.items():
            if fp["rows"] != merged[q]["rows"]:
                raise SystemExit(f"record: {q} row count depends on core count")
            if fp["hash"] != merged[q]["hash"]:
                merged[q]["hash"] = None
    doc = {"data": "perfbench/data/sf0.01",
           "count_only": sorted(q for q, fp in merged.items() if fp["hash"] is None),
           "queries": merged}
    with open(FINGERPRINTS, "w") as f:
        json.dump(doc, f, indent=2, sort_keys=True)
        f.write("\n")
    print(FINGERPRINTS)


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload")
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=int, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--compare", nargs=2, metavar=("OLD", "NEW"))
    p.add_argument("--record-fingerprints", action="store_true")
    a = p.parse_args()
    if a.compare:
        compare(*a.compare)
    elif a.record_fingerprints:
        record_fingerprints()
    elif a.workload:
        run_once(a)
    else:
        p.error("--workload, --compare or --record-fingerprints is required")


if __name__ == "__main__":
    main()
