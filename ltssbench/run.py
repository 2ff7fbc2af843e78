#!/usr/bin/env python3
"""Benchmark of ltss-spark: ingest replay, dashboard refresh, curation pass.

    python3 ltssbench/run.py --workload ingest --seed 1 --seconds 6 --trace 0
    python3 ltssbench/run.py --smoke            # fast self-check of the benchmark
    python3 ltssbench/run.py --record-curation  # re-record the fixture's oracle digests

Run from the repository root. The first run compiles the program and the
benchmark (ltssbench/build.sh) into .bench_build/; later runs reuse the
classes while the sources are unchanged. Inputs and outputs of a run live
in .bench_work/<workload>/. The last line of standard output is the result
JSON; the line before it holds the run's details and host context.
See ltssbench/README.md.
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
ROOT = os.path.dirname(HERE)
BUILD_DIR = os.path.join(ROOT, ".bench_build", "ltssbench")
STAMP = BUILD_DIR + ".stamp"
WORK_ROOT = os.path.join(ROOT, ".bench_work")
CURATION_EXPECTED = os.path.join(HERE, "curation_expected.json")
RUN_LIMIT_S = 175  # a run must end within 180 s once built

sys.path.insert(0, HERE)
import checks  # noqa: E402
import inputs  # noqa: E402

# Input sizes. `full` is what the benchmark measures; `smoke` exercises
# every code path in a few seconds.
PROFILES = {
    "full": {
        # two micro-batches of 96k rows per replay: about 2.2 s each on
        # 4 cores, well clear of the pipeline's fixed 1 s trigger
        "ingest": {"files": 16, "rows_per_file": 12000, "max_files": 8,
                   "warm_files": 2, "warm_rows": 3000},
        # the row count of the sf0.1 `events` table that graft.Bench reads
        # (TESTDATA.md), spread over five 30-day chunks instead of one
        "dashboard": {"events": 100000},
        "setups": 3,
    },
    "smoke": {
        "ingest": {"files": 4, "rows_per_file": 500, "max_files": 2,
                   "warm_files": 1, "warm_rows": 200},
        "dashboard": {"events": 3000},
        "setups": 1,
    },
}

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"ltssbench: {msg}", file=sys.stderr)
    sys.exit(1)


def cpu_jiffies():
    """(steal, total) jiffies of all CPUs, or None off Linux."""
    try:
        with open("/proc/stat") as fh:
            f = [int(x) for x in fh.readline().split()[1:]]
    except (OSError, ValueError):
        return None
    return (f[7] if len(f) > 7 else 0), sum(f[:8])


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def source_stamp():
    h = hashlib.sha256()
    files = [os.path.join(HERE, "build.sh")]
    for base in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode() + b"\0")
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("program sources (src/main/scala) not found; run from a checkout of the repository")
    stamp = source_stamp()
    if os.path.isdir(BUILD_DIR) and os.path.exists(STAMP) and open(STAMP).read() == stamp:
        return
    if os.path.exists(STAMP):
        os.remove(STAMP)
    r = subprocess.run(["bash", os.path.join(HERE, "build.sh"), BUILD_DIR],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=800)
    if r.returncode != 0:
        fail("build failed:\n" + r.stdout[-4000:])
    with open(STAMP, "w") as fh:
        fh.write(stamp)


def jvm(workload, data, work, seconds, trace, setups, max_files, timeout_s):
    jars = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    out = os.path.join(work, "result.json")
    cmd = ["java", "-Xmx3g", "-Xss8m", "-XX:-UsePerfData"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [
        f"-Djava.io.tmpdir={tmp}",
        f"-Dderby.system.home={work}",
        "-Dltssbench.include.domains=" + ",".join(inputs.INCLUDE_DOMAINS),
        "-Dltssbench.include.globs=" + ",".join(inputs.INCLUDE_GLOBS),
        "-Dltssbench.exclude.entities=" + ",".join(inputs.EXCLUDE_ENTITIES),
        "-Dltssbench.curation.queries=" + ",".join(CURATION_QUERIES),
        "-cp", BUILD_DIR + os.pathsep + os.path.join(jars, "*"),
        "ltssbench.Main",
        "--workload", workload, "--data", data, "--work", work,
        "--seconds", str(seconds), "--trace", str(trace), "--out", out,
        "--setups", str(setups), "--max-files", str(max_files),
    ]
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        try:
            r = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work,
                               timeout=max(10, timeout_s))
        except subprocess.TimeoutExpired:
            fail(f"the JVM did not finish within {timeout_s:.0f} s (log: {log_path})")
    if r.returncode != 0 or not os.path.exists(out):
        with open(log_path) as fh:
            tail = fh.read()[-4000:]
        fail(f"the JVM exited with {r.returncode} (log: {log_path}):\n{tail}")
    with open(out) as fh:
        return json.load(fh)


def query_checks(workload, data_dir, work, res):
    """Each query's dumped result against the DuckDB oracle: run now on the
    generated dashboard table, recorded once for the fixed curation fixture."""
    if workload == "dashboard":
        expected = checks.duckdb_results(data_dir, res["checks"]["oracle_sql"])
    else:
        expected = checks.load_expected(CURATION_EXPECTED)
    return checks.compare_queries(os.path.join(work, "results"), res["checks"]["queries"],
                                  expected, res["checks"]["result_errors"])


# Three cap-and-route sites (all-pairs, text rank, MAD), the
# eager-checkpoint kmv_merge and the CachedFrames band scan. Every query
# runs in each of the three setups and in every pass, so the list is kept to
# what fits the run-time budget (see README.md, "Curation query set").
CURATION_QUERIES = ["dedup_allpairs", "text_rank", "ltss_anomaly_mad", "ltss_kmv_merge",
                    "dedup_minhash_lsh"]


def run_workload(workload, seed, seconds, trace, profile_name="full"):
    """One run: inputs, JVM, checks. Returns (details, result line)."""
    t_start = time.time()
    load_before = os.getloadavg()
    cpu_before = cpu_jiffies()
    profile = PROFILES[profile_name]
    setups = profile["setups"]
    work = os.path.join(WORK_ROOT, workload)
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "data")
    os.makedirs(data)
    max_files = 1
    if workload == "ingest":
        p = profile["ingest"]
        expected = inputs.make_ingest(seed, data, p)
        max_files = p["max_files"]
    elif workload == "dashboard":
        inputs.make_dashboard(seed, data, profile["dashboard"], setups)
    elif workload == "curation":
        inputs.make_curation(data, setups)
    else:
        fail(f"unknown workload {workload!r}")
    budget = RUN_LIMIT_S - (time.time() - t_start) - 20
    res = jvm(workload, data, work, seconds, trace, setups, max_files, budget)

    if workload == "ingest":
        per_op = checks.check_ingest(res["checks"]["replays"], expected["backlog"])
        wrong = sum(1 for c in per_op if not c["ok"])
        failed = max(wrong, res["failed_ops"])
        check_detail = {"replays": per_op, "planted": expected["backlog"]["planted"]}
        if trace:
            # the drops the program's own executions counted in the traced
            # replays, by the stage that made them
            drops = res["checks"]["drops"]
            planted = expected["backlog"]["planted"]
            n = drops["traced_replays"]
            want = {"s2_f2": n * sum(planted[k] for k in inputs.DROPPED_S2_F2),
                    "p4": n * sum(planted[k] for k in inputs.DROPPED_P4)}
            ok = n > 0 and all(drops[k] == v for k, v in want.items())
            check_detail["drops"] = {"ok": ok, "got": drops, "planted": want}
            if not ok:
                failed = max(failed, 1)
    else:
        per_query = query_checks(workload, os.path.join(data, f"rep{setups - 1}"), work, res)
        bad = [q for q, c in per_query.items() if not c["ok"]]
        # every timed execution of a query whose result is wrong counts as failed
        failed = min(res["attempted"],
                     res["failed_ops"] + len(bad) * res["checks"]["executions_per_query"])
        check_detail = {"queries": per_query}

    attempted = max(1, res["attempted"])
    bench = spec()
    if trace:
        missing = [m["name"] for m in bench["per_layer"] if m["name"] not in res["layers"]]
        if missing:
            fail("the traced run did not report: " + ", ".join(missing))
        metrics = {m["name"]: {"value": float(res["layers"][m["name"]]), "unit": m["unit"]}
                   for m in bench["per_layer"]}
    else:
        metrics = {m["name"]: {"value": float(res[m["name"]]), "unit": m["unit"]}
                   for m in bench["end_to_end"]}
    correct = failed == 0 and not res["errors"]
    cpu_after = cpu_jiffies()
    steal = None
    if cpu_before and cpu_after and cpu_after[1] > cpu_before[1]:
        steal = (cpu_after[0] - cpu_before[0]) / (cpu_after[1] - cpu_before[1])
    details = {
        "workload": workload, "seed": seed, "trace": trace,
        "ops": res["op_count"],
        "setup_s_each": res["setup_s_each"],
        "failed_frac": failed / attempted,
        "errors": res["errors"],
        "checks": check_detail,
        "host": dict(res["host"], load_avg_before=list(load_before),
                     load_avg_after=list(os.getloadavg()), cpu_steal_frac=steal),
        "run_s": round(time.time() - t_start, 2),
    }
    if trace:
        details["trace_file"] = os.path.relpath(os.path.join(work, "trace.json"), ROOT)
        with open(os.path.join(work, "trace.json"), "w") as fh:
            json.dump({"layers": res["layers"], "detail": res["trace_detail"],
                       "spans_file": "spans.jsonl"}, fh, indent=1)
    result = {"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}
    return details, result


def smoke():
    """Tiny-input run of every workload, traced and untraced: every metric of
    BENCHMARK.json must be printed with its unit and every check must run."""
    bench = spec()
    problems = []
    for w in [x["name"] for x in bench["workloads"]]:
        for trace in (0, 1):
            details, result = run_workload(w, 7, 1, trace, "smoke")
            want = bench["per_layer"] if trace else bench["end_to_end"]
            for m in want:
                got = result["metrics"].get(m["name"])
                if got is None or got.get("unit") != m["unit"] or not isinstance(got.get("value"), float):
                    problems.append(f"{w}/trace={trace}: metric {m['name']} missing or without unit")
            if trace == 0:
                for m in bench["end_to_end"]:
                    if result["metrics"][m["name"]]["value"] <= 0:
                        problems.append(f"{w}: end-to-end metric {m['name']} is not positive")
            c = details["checks"]
            ran = c.get("replays") or c.get("queries")
            if not ran:
                problems.append(f"{w}/trace={trace}: no output check ran")
            if w == "ingest" and trace and "drops" not in c:
                problems.append(f"{w}/trace={trace}: the drops check did not run")
            if not result["correct"]:
                problems.append(f"{w}/trace={trace}: output checks failed: "
                                + json.dumps(c)[:600] + " errors: " + json.dumps(details["errors"])[:600])
            print(f"smoke {w} trace={trace}: {len(result['metrics'])} metrics, "
                  f"correct={result['correct']}, {details['run_s']} s")
    if problems:
        print("SMOKE FAIL\n  " + "\n  ".join(problems))
        return 1
    print("SMOKE PASS")
    return 0


def record_curation():
    """Runs the curation queries once and records the DuckDB oracle's digests
    over the fixture (the fixture never changes, so this is done once)."""
    details, _ = run_workload("curation", 0, 1, 0, "smoke")
    work = os.path.join(WORK_ROOT, "curation")
    with open(os.path.join(work, "result.json")) as fh:
        res = json.load(fh)
    digests = checks.duckdb_results(inputs.FIXTURE, res["checks"]["oracle_sql"])
    missing = [q for q in CURATION_QUERIES if q not in digests or digests[q][0] == "error"]
    if missing:
        print("no oracle digest for: " + ", ".join(missing), file=sys.stderr)
        return 1
    with open(CURATION_EXPECTED, "w") as fh:
        json.dump({k: list(digests[k]) for k in CURATION_QUERIES}, fh, indent=1, sort_keys=True)
        fh.write("\n")
    cmp = checks.compare_queries(os.path.join(work, "results"), CURATION_QUERIES,
                                 digests, res["checks"]["result_errors"])
    for q in CURATION_QUERIES:
        print(f"{'PASS' if cmp[q]['ok'] else 'FAIL'} {q} ({digests[q][0]} rows)")
    return 0 if all(c["ok"] for c in cmp.values()) else 1


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    ap.add_argument("--record-curation", action="store_true")
    a = ap.parse_args()
    build()
    if a.smoke:
        sys.exit(smoke())
    if a.record_curation:
        sys.exit(record_curation())
    if not a.workload:
        ap.error("--workload is required")
    details, result = run_workload(a.workload, a.seed, a.seconds, a.trace)
    print(json.dumps(details))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
