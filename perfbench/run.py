#!/usr/bin/env python3
"""The repository benchmark: one command per workload run.

Usage:
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (see BENCHMARK.json): wordcount, llm_pipeline, stream.
The first run in a tree builds the harness (perfbench/build.py). Each run
starts one JVM on local[nproc]; the harness sets up and warms up once,
measures for `--seconds`, then checks every operation's output. With
`--trace 0` the last stdout line carries the end-to-end metrics, with
`--trace 1` the per-layer ones. Every metric is also printed above it as
`name value unit`, with the workload-specific figures that are not
gated. The full result (environment stamp, samples, checks) is written
to `.bench_build/results/`, the traced run's spans next to it.

The llm_pipeline workload reads the sf0.1 fixtures from $PERFBENCH_FIXTURES
(default ~/testdata/sf0.1); the harness copies them into the tree.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import build  # noqa: E402

DEADLINE_S = 175.0
REGISTRY = {"llm_pipeline"}

# workload-specific figures printed with the gated metrics
EXTRA_UNITS = {
    "input_mb_per_s": "MB/s", "rows_per_s": "1/s", "backlog_files": "count",
    "gen_lag_s": "s", "mr.run_s": "s", "peak_rss_mb": "MB", "corpus_bytes": "bytes", "corpus_tokens": "count",
    "distinct_words": "count", "files_landed": "count", "offered_files_per_s": "1/s",
    "rows_per_file": "count", "window_s": "s",
}
LAYER_EXTRA_UNITS = {
    "streaming.batches": "count", "streaming.batch_s": "s", "streaming.add_batch_s": "s",
    "streaming.latest_offset_s": "s", "streaming.wal_commit_s": "s",
    "streaming.state_rows": "count", "streaming.state_mem_mb": "MB",
    "streaming.state_commit_ms": "ms", "streaming.rows_dropped_late": "count",
    "kernels.jobs": "count",
}


def env_stamp(seed, loadavg_before):
    def read(p):
        try:
            return Path(p).read_text().strip()
        except OSError:
            return "absent"
    commit = "unknown"
    try:
        commit = subprocess.run(["git", "-C", str(ROOT), "rev-parse", "HEAD"], capture_output=True,
                                text=True, timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        pass
    return {
        "git_commit": commit,
        "source_digest": build.digest(build.sources()),
        "seed": seed,
        "nproc": len(os.sched_getaffinity(0)),
        "cgroup_cpu_max": read("/sys/fs/cgroup/cpu.max"),
        "loadavg_before": loadavg_before,
        "loadavg_after": read("/proc/loadavg"),
    }


def jvm_options(work):
    """java options for a harness JVM whose temporary files stay under `work`."""
    opens = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
    # a preset heap size: without it the collector grows the heap during
    # the timed passes, and how fast it does so varies from run to run
    cmd = ["java", "-Xms2g", "-Xmx2g", "-Xss8m"]
    for o in opens:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    return cmd + [f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={work / 'spark-local'}",
                  f"-Dspark.sql.warehouse.dir={work / 'warehouse'}", f"-Dderby.system.home={work}",
                  "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
                  "-cp", build.classpath()]


def java_command(args, work, out, fixtures, cpus):
    return jvm_options(work) + [
        "perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace), "--work", str(work),
        "--fixtures", fixtures, "--out", str(out), "--cpus", str(cpus)]


def run_jvm(cmd, log, timeout):
    env = dict(os.environ)
    env["SPARK_GRAFT_CPUS"] = cmd[cmd.index("--cpus") + 1]
    with open(log, "w") as f:
        p = subprocess.Popen(cmd, stdout=f, stderr=subprocess.STDOUT, cwd=ROOT, env=env,
                             start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, 9)
            p.wait()
            raise


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t_start = time.monotonic()

    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    if args.workload not in {w["name"] for w in bench["workloads"]}:
        sys.exit(f"unknown workload {args.workload}")
    why = build.missing()
    if why:
        sys.exit(f"cannot run: {why}")
    fixtures = os.environ.get("PERFBENCH_FIXTURES", str(Path.home() / "testdata" / "sf0.1"))
    if args.workload in REGISTRY and not (Path(fixtures) / "lineitem.parquet").is_file():
        sys.exit(f"cannot run {args.workload}: fixtures not found in {fixtures}")

    build_s = build.build()
    loadavg_before = Path("/proc/loadavg").read_text().strip()
    cpus = len(os.sched_getaffinity(0))
    runs = ROOT / ".bench_build" / "runs"
    work = runs / f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    out = work / "result.json"
    log = work / "jvm.log"
    results = ROOT / ".bench_build" / "results"
    results.mkdir(parents=True, exist_ok=True)
    stem = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    try:
        budget = DEADLINE_S - (time.monotonic() - t_start) if build_s == 0 else DEADLINE_S
        code = run_jvm(java_command(args, work, out, fixtures, cpus), log, max(budget, 30.0))
        if code != 0 or not out.exists():
            shutil.copy(log, results / f"{stem}-jvm.log")
            sys.stderr.write(log.read_text()[-6000:])
            sys.exit(f"harness exited with code {code}; log in {results / (stem + '-jvm.log')}")
        r = json.loads(out.read_text())
        if args.workload in REGISTRY:
            import oracle
            checked, r["result_canonicals"] = oracle.check(
                r["check_dir"], r["fixtures_dir"], r["queries"],
                ROOT / ".bench_build" / "oracle-cache")
            r["oracle_queries"] = sorted(json.loads(
                (Path(r["check_dir"]) / "oracle_sql.json").read_text()))
            for name, ok, detail in checked:
                for c in r["checks"]:
                    if c["op"] == name and c["ok"]:
                        c["ok"], c["detail"] = ok, detail
                        if not ok:
                            r["failed"] += 1
        if (work / "spans.json").exists():
            shutil.copy(work / "spans.json", results / f"{stem}-spans.json")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    metrics, report = compute_metrics(bench, r, args.trace)
    r["env"].update(env_stamp(args.seed, loadavg_before))
    r["build_s"] = build_s
    r["metrics"] = metrics
    r["failed_frac"] = r["failed"] / max(r["attempted"], 1)
    (results / f"{stem}.json").write_text(json.dumps(r, indent=1))

    for c in r["checks"]:
        if not c["ok"]:
            print(f"FAIL {c['op']}: {c['detail']}")
    for name, (value, unit) in report.items():
        print(f"{name} {value:.6g} {unit}")
    print(f"failed_frac {r['failed_frac']:.6g} ratio ({r['failed']} of {r['attempted']})")
    print(json.dumps({"correct": r["failed"] == 0, "attempted": int(r["attempted"]),
                      "failed": int(r["failed"]), "metrics": metrics}))


def compute_metrics(bench, r, trace):
    """The gated metrics (named in BENCHMARK.json) and the printed report.

    Every figure, medians and quantiles included, is computed by the harness."""
    report = {}
    if trace == 0:
        values, specs = r["end_to_end"], bench["end_to_end"]
    else:
        values, specs = r["layers"], bench["per_layer"]
    metrics = {}
    for spec in specs:
        v = values.get(spec["name"])
        if v is None:
            raise SystemExit(f"metric {spec['name']} not measured on {r['workload']}")
        metrics[spec["name"]] = {"value": v, "unit": spec["unit"]}
        report[spec["name"]] = (v, spec["unit"])
    report["latency_samples"] = (r["latency_samples"], "count")
    for k, v in r.get("extra", {}).items():
        if isinstance(v, (int, float)):
            report[k] = (v, EXTRA_UNITS.get(k, ""))
    if trace == 1:
        for k, v in r["layers"].items():
            if k not in metrics and isinstance(v, (int, float)):
                report[k] = (v, LAYER_EXTRA_UNITS.get(k, ""))
    return metrics, report


if __name__ == "__main__":
    main()
