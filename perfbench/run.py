#!/usr/bin/env python3
"""Benchmark of the engine: a single-process, single-client closed loop
through its public entry points (SparkEntry.queries, AirbnbStages,
PipelineRunner, StateStore) on local[nproc]. See perfbench/README.md.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
                             [--artifact PATH]

Run from the repository root. Builds the JVM side (perfbench/build.sbt)
when its sources changed, generates the workload's inputs from the seed,
runs the JVM, checks the outputs in DuckDB and prints one JSON line:
end-to-end metrics with --trace 0, per-layer metrics with --trace 1. The
full record (every sample, host-noise stamps, span self times) goes to
--artifact, by default perfbench/.runs/<workload>-trace<T>.json.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402
import hoststamp  # noqa: E402
import metrics  # noqa: E402

JVM_TIMEOUT_S = 150
HEAP = "-Xmx3g"

# The q86 regression, the fixed per-query cost and the StateStore
# round-trips each get a workload that exercises them (README.md).
# pass_s: nominal seconds of one pass on a 4-core host; a run measures
# round(--seconds / pass_s) whole passes (at least one), so every run of a
# workload times the same ops and a noisy host stretches the run instead
# of shrinking the sample.
WORKLOADS = {
    "airbnb_monthly": {
        "kind": "airbnb", "pass_s": 15, "months": 3, "listings": 300, "reviews": 15000},
    "suite_sf0.01": {
        "kind": "suite", "pass_s": 5, "sf": 0.01, "queries": [
            "q06_semi_join", "q11_collect_set", "q13_distinct_histogram", "q22_lang_detect",
            "q29_sessionize", "q31_pivot", "q41_asof_join", "q68_funnel", "q90_kmv_distinct",
            "q96_hist_quantiles", "q106_cms_freq", "q165_group_ols"]},
    "curation_sf0.1": {
        "kind": "curation", "pass_s": 8, "sf": 0.1, "queries": [
            "q86_knn_ivf_pq", "q110_bigram_surprise", "q24_minhash_pairs"]},
}


def source_stamp():
    """Digest of everything the benchmark build reads."""
    h = hashlib.sha256()
    roots = [os.path.join(REPO, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(REPO, "build.sbt"), os.path.join(REPO, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(work):
    """Compile engine + benchmark with sbt unless the stamp is current;
    return (classpath, jvm options)."""
    spec = os.path.join(HERE, "target", "launch.txt")
    stamp_file = os.path.join(HERE, "target", "launch.stamp")
    stamp = source_stamp()
    current = os.path.exists(spec) and os.path.exists(stamp_file) and \
        open(stamp_file).read() == stamp
    if not current:
        # resolve offline, as the repo's own test command does
        env = dict(os.environ)
        env.setdefault("COURSIER_MODE", "offline")
        repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
        if "SBT_OPTS" not in env and os.path.exists(repos):
            env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                               f"-Dsbt.repository.config={repos} -Xmx4g")
        log = os.path.join(work, "build.log")
        with open(log, "w") as out:
            rc = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "launchSpec"],
                                cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                                timeout=850).returncode
        if rc != 0 or not os.path.exists(spec):
            sys.stderr.write(open(log).read()[-4000:])
            raise SystemExit("perfbench: build failed")
        with open(stamp_file, "w") as f:
            f.write(stamp)
    lines = open(spec).read().splitlines()
    return lines[0], [o for o in lines[1:] if not o.startswith("-Xmx")]


def generate(cfg, data, seed):
    if os.path.exists(data):
        shutil.rmtree(data)
    if cfg["kind"] == "airbnb":
        gen.airbnb(data, cfg["months"], cfg["listings"], cfg["reviews"], seed)
    else:
        gen.tpch(data, cfg["sf"], seed)


def run_jvm(cp, opts, work, jvm_args):
    """Run perfbench.Main; returns the wall-clock time it was launched at."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, TMPDIR=tmp, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    cmd = ["java"] + opts + [HEAP, f"-Djava.io.tmpdir={tmp}", "-cp", cp,
                             "perfbench.Main"] + jvm_args
    with open(os.path.join(work, "jvm.log"), "w") as log:
        launched = time.time()
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = -9
    if rc != 0:
        sys.stderr.write(open(os.path.join(work, "jvm.log")).read()[-4000:])
        raise SystemExit(f"perfbench: benchmark JVM exited with {rc}")
    return launched


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--artifact")
    a = ap.parse_args()
    cfg = WORKLOADS[a.workload]
    if not os.path.exists(os.path.join(REPO, "src", "main", "scala", "graft", "SparkEntry.scala")):
        raise SystemExit("perfbench: engine sources not found next to perfbench/")

    work = os.path.join(HERE, ".work", a.workload)
    if os.path.exists(work):
        shutil.rmtree(work)
    os.makedirs(work)
    phase = {}
    t0 = time.perf_counter()
    cp, opts = build(work)
    phase["build_s"] = time.perf_counter() - t0
    # wait out a CPU-steal burst before anything is timed (set-up included)
    preflight = hoststamp.steal_preflight()
    stamps = hoststamp.Stamps()

    data = os.path.join(work, "data")
    t0 = time.perf_counter()
    generate(cfg, data, a.seed)
    gen_s = time.perf_counter() - t0

    cpus = len(os.sched_getaffinity(0))
    passes = max(1, round(a.seconds / cfg["pass_s"]))
    if a.trace:
        # untraced, traced, untraced, ...: odd, at least three
        passes = max(3, passes + 1 - passes % 2)
    out = os.path.join(work, "raw.json")
    check_dir = os.path.join(work, "check")
    jvm_args = ["--workload", cfg["kind"], "--data", data, "--work", os.path.join(work, "run"),
                "--out", out, "--passes", str(passes), "--seed", str(a.seed),
                "--trace", str(a.trace), "--cpus", str(cpus)]
    if cfg["kind"] != "airbnb":
        jvm_args += ["--queries", ",".join(cfg["queries"]), "--check", check_dir]
    t0 = time.perf_counter()
    launched = run_jvm(cp, opts, work, jvm_args)
    phase["jvm_s"] = time.perf_counter() - t0
    raw = json.load(open(out))
    # JVM start, class loading, session start and warm-up
    setup_jvm_s = raw["setup_end_ms"] / 1000.0 - launched

    # correctness, outside the timed region
    if cfg["kind"] == "airbnb":
        check.prepare_airbnb(raw["models_dir"], check_dir, raw["months"], raw["lexicon"])
        tables = os.path.join(data, "replay")
    else:
        tables = data
    wrong, gate_log = check.run_gate(REPO, tables, check_dir,
                                     os.path.join(work, "correctness.json"))
    phase["check_s"] = time.perf_counter() - t0 - phase["jvm_s"]
    dump_failed = sorted(k for k, v in raw["check_status"].items() if v != "ok")
    bad = set(wrong) | set(dump_failed)
    if cfg["kind"] == "airbnb" and bad:
        # a wrong model was built by every month of the run
        bad = {o["name"] for o in raw["ops"]}

    e2e = metrics.end_to_end(raw, gen_s + setup_jvm_s, wrong=bad)
    attempted, failed = metrics.count_outcomes(raw["ops"], wrong=bad)
    correct = not bad and failed == 0
    record = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "cpus": cpus, "host": dict(stamps.finish(), steal_preflight=preflight),
        "phases_s": phase, "correct": correct,
        "wrong_outputs": sorted(set(wrong)), "dump_failed": dump_failed,
        "end_to_end": e2e,
        "samples": {"gen_s": gen_s, "setup_jvm_s": setup_jvm_s, "prime_ops": raw["prime_ops"],
                    "ops": raw["ops"], "passes": raw["passes"]},
    }
    if a.trace:
        layers, selfs = metrics.per_layer(raw)
        record["per_layer"] = layers
        record["self_s_per_op"] = selfs
        shown = layers
    else:
        shown = {k: e2e[k] for k in ("setup_s", "ops_per_s", "op_p50_s", "cpu_s_per_op")}
    artifact = a.artifact or os.path.join(HERE, ".runs", f"{a.workload}-trace{a.trace}.json")
    os.makedirs(os.path.dirname(os.path.abspath(artifact)), exist_ok=True)
    with open(artifact, "w") as f:
        json.dump(record, f, indent=1)
        f.write("\n")
    if not correct:
        sys.stderr.write(gate_log[-2000:] + "\n")
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v["value"], "unit": v["unit"]} for k, v in shown.items()}}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
