"""Compare+report benchmark of the program (see perfbench/README.md).

    python3 perfbench/run.py --workload baseline_report --seed 1 --seconds 15 --trace 0
    python3 perfbench/run.py --workload wide_report --seed 1 --seconds 15 --repeat 10

Run from the repository root. One run builds the program if a source changed
(perfbench/build.py), writes the workload's seeded inputs, times compares plus
reports for --seconds, checks every report against the expected counts, and
prints one JSON line last: {"correct", "attempted", "failed", "metrics"}.
With --trace 1 the metrics are the per-layer ones. --repeat N makes N runs
with seeds seed..seed+N-1 and prints each metric's median and quartiles.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("baseline_report", "wide_report", "cli_cold")
CLI_ARGS = ["--assume-keys-unique", "--assume-keys-null-free", "--report-format", "json", "--quiet"]
# Nominal seconds of one cold CLI run on this benchmark's reference host.
CLI_REP_S = 16.0
# Every JVM of a run must end this many seconds after the build.
RUN_LIMIT_S = 170
HEAP = "3g"
# What `spark-submit` passes on JDK 17 (the same list as build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def cpus():
    return len(os.sched_getaffinity(0))


def jvm(work, main, *args, props=()):
    """A java command line with a fixed heap and everything Spark writes kept
    under `work`."""
    work = work.resolve()
    opts = [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData"]
    for p in ADD_OPENS:
        opts += ["--add-opens", f"{p}=ALL-UNNAMED"]
    for k, v in {
        "java.io.tmpdir": work / "tmp",
        "log4j2.configurationFile": Path("perfbench/log4j2.properties").resolve(),
        "spark.ui.enabled": "false",
        "spark.sql.session.timeZone": "UTC",
        "spark.driver.host": "localhost",
        "spark.driver.bindAddress": "127.0.0.1",
        "spark.local.dir": work / "spark-local",
        "spark.sql.warehouse.dir": work / "warehouse",
        "spark.hadoop.hadoop.tmp.dir": work / "hadoop-tmp",
        **dict(props),
    }.items():
        opts.append(f"-D{k}={v}")
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    return ["java", *opts, "-cp", CLASSPATH, main, *map(str, args)]


def launch(cmd, log, env=None):
    """Runs one JVM to its end; returns (exit code, seconds from launch to exit).
    A JVM still running at the run's deadline is killed."""
    with open(log, "ab") as err:
        t0 = time.perf_counter()
        p = subprocess.run(cmd, stdout=err, stderr=err, env=env,
                           timeout=max(1.0, DEADLINE - t0))
        return p.returncode, time.perf_counter() - t0


def fail(msg, log=None):
    if log and Path(log).is_file():
        sys.stderr.write(Path(log).read_text(errors="replace")[-4000:])
    raise SystemExit(f"run: {msg}")


def harness(work, mode, workload, seed, log, **extra):
    args = ["--workload", workload, "--seed", seed, "--work", work.resolve(), "--cpus", cpus()]
    for k, v in extra.items():
        args += [f"--{k}", v]
    cmd = jvm(work, "perfbench.Harness", mode, *args, "--launched", f"{time.time():.6f}")
    return launch(cmd, log)


def median(xs):
    return statistics.median(xs) if xs else float("nan")


# ---------------------------------------------------------------- host state

def cgroup_cpu_stat():
    for path in ("/sys/fs/cgroup/cpu.stat", "/sys/fs/cgroup/cpu/cpu.stat"):
        try:
            pairs = (line.split() for line in Path(path).read_text().splitlines())
            return {k: int(v) for k, v in pairs if k.startswith(("nr_", "throttled"))}
        except (OSError, ValueError):
            continue
    return None


def canary():
    """Seconds for a fixed pure-Python loop; grows when the CPU is throttled
    or contended."""
    t0 = time.perf_counter()
    s = 0
    for i in range(2_000_000):
        s += i
    return time.perf_counter() - t0


def steal_s():
    """Seconds the hypervisor has kept this machine's CPUs from running it,
    summed over CPUs (the `steal` column of /proc/stat); None off Linux."""
    try:
        fields = Path("/proc/stat").read_text().splitlines()[0].split()
        return int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, ValueError, IndexError):
        return None


def host_state():
    try:
        load = [float(x) for x in Path("/proc/loadavg").read_text().split()[:3]]
    except OSError:
        load = None
    return {"loadavg": load, "canary_s": round(canary(), 4), "steal_s": steal_s(),
            "cpu_stat": cgroup_cpu_stat()}


# ------------------------------------------------------------------ workloads

def run_library(a, work, log):
    code, _ = harness(work, "library", a.workload, a.seed, log, seconds=a.seconds, trace=a.trace)
    result = work / "result.json"
    if code != 0 or not result.is_file():
        fail(f"harness exited with {code}", log)
    return json.loads(result.read_text())


def check_cli_report(path, code, expected):
    """Failed checks of one CLI JSON report; empty when all hold."""
    e = expected["expected"]
    if code != 1:
        return [f"exit code {code}, expected 1 (the inputs differ)"]
    try:
        r = json.loads(Path(path).read_text())
    except (OSError, ValueError) as ex:
        return [f"report is not JSON: {ex}"]
    rs = r["row_summary"]
    got_unequal = {s["column"]: s["unequal_cnt"] for s in r["mismatch_stats"]["stats"]}
    checks = [
        ("side 1 rows", r["df1_shape"][0], e["rows1"]),
        ("side 2 rows", r["df2_shape"][0], e["rows2"]),
        ("common rows", rs["common_rows"], e["common"]),
        ("rows only in side 1", rs["df1_unique"], e["unq1"]),
        ("rows only in side 2", rs["df2_unique"], e["unq2"]),
        ("unequal rows", rs["unequal_rows"], e["unequal_rows"]),
        ("unequal values", r["column_comparison"]["unequal_values"], sum(e["unequal"].values())),
        ("side 1 unique plus common rows", rs["df1_unique"] + rs["common_rows"], r["df1_shape"][0]),
        ("side 2 unique plus common rows", rs["df2_unique"] + rs["common_rows"], r["df2_shape"][0]),
        ("equal plus unequal rows", rs["equal_rows"] + rs["unequal_rows"], rs["common_rows"]),
    ] + [(f"unequal values in {c}", got_unequal.get(c, 0), n) for c, n in e["unequal"].items()]
    failures = [f"{what}: got {got}, expected {want}" for what, got, want in checks if got != want]
    failures += [f"unequal values in {c} ({n}) exceed the common rows" for c, n in got_unequal.items()
                 if n > rs["common_rows"]]
    failures += [f"unexpected mismatching column {c}" for c in got_unequal if c not in e["unequal"]]
    return failures


def run_cli(a, work, log):
    code, _ = harness(work, "generate", a.workload, a.seed, log)
    exp_file = work / "expected.json"
    if code != 0 or not exp_file.is_file():
        fail(f"input generation exited with {code}", log)
    expected = json.loads(exp_file.read_text())
    data = (work / "data").resolve()
    env = {**os.environ, "SPARK_GRAFT_CPUS": str(cpus())}

    def cli_rep(i):
        out, counters = work / f"cli-{i}.json", work / f"counters-{i}.json"
        cmd = jvm(work, "graft.cli.Main", "--left", data / "left.parquet", "--right", data / "right.parquet",
                  "--on", "id", *CLI_ARGS, "--output", out,
                  props={"spark.extraListeners": "perfbench.Tracer",
                         "spark.perfbench.countersFile": counters})
        code, secs = launch(cmd, log, env)
        failures = check_cli_report(out, code, expected)
        c = json.loads(counters.read_text()) if counters.is_file() else None
        if c is None:
            failures.append("no counters written")
        return secs, c, failures

    def traced_rep(i):
        out, layers = work / f"trace-{i}.json", work / f"layers-{i}.json"
        code, secs = harness(work, "cli-trace", a.workload, a.seed, log, left=data / "left.parquet",
                             right=data / "right.parquet", output=out, layers=layers)
        failures = check_cli_report(out, code, expected)
        lay = json.loads(layers.read_text()) if layers.is_file() else None
        if lay is None:
            failures.append("no layers written")
        return secs, lay, failures

    reps, traced, failures = [], [], []
    first = None
    # A round is one CLI run, or with tracing a CLI run and a traced run; a
    # run makes as many as fit --seconds at the nominal round time (see
    # RepSeconds in Harness.scala), at least one.
    rounds = max(1, round(a.seconds / (CLI_REP_S * (2 if a.trace else 1))))
    for i in range(rounds):
        secs, c, f = cli_rep(i)
        first = secs if first is None else first
        failures.append(f)
        if not f:
            reps.append((secs, c))
        if a.trace:
            secs, lay, f = traced_rep(i)
            failures.append(f)
            if not f:
                traced.append((secs, lay))
    for f in sorted({x for fs in failures for x in fs})[:20]:
        print(f"check: {f}", file=sys.stderr)

    if not a.trace:
        metrics = {
            "compare_report_s": (median([s for s, _ in reps]), "s"),
            "setup_s": (expected["boot_s"] + expected["session_s"] + expected["generate_s"], "s"),
            "cache_mb": (median([c["cache_peak_bytes"] / 1e6 for _, c in reps]), "MB"),
            "shuffle_mb": (median([c["shuffle_write_bytes"] / 1e6 for _, c in reps]), "MB"),
            "spark_jobs": (median([c["jobs"] for _, c in reps]), "count"),
        }
    else:
        units = {m["name"]: m["unit"] for m in BENCH["per_layer"]}
        layer_names = [n for n in units if n in traced[0][1]] if traced else []
        metrics = {n: (median([lay[n] for _, lay in traced]), units[n]) for n in layer_names}
        traced_s = median([s for s, _ in traced])
        metrics.update({
            "first_compare_s": (first, "s"),
            "trace.compare_report_s": (traced_s, "s"),
            "trace.overhead_s": (traced_s - median([s for s, _ in reps]), "s"),
            "trace.unattributed_s": (median([s - lay["summed_wall_s"] for s, lay in traced]), "s"),
            "trace.skipped_tasks": (sum(lay["trace.skipped_tasks"] for _, lay in traced), "count"),
        })
    return {
        "correct": not any(failures),
        "attempted": len(failures),
        "failed": sum(1 for f in failures if f),
        "metrics": {n: {"value": None if v != v else v, "unit": u} for n, (v, u) in metrics.items()},
    }


# ---------------------------------------------------------------------- main

def run_once(a):
    global CLASSPATH, DEADLINE
    CLASSPATH = build.build()
    DEADLINE = time.perf_counter() + RUN_LIMIT_S
    work = build.BUILD_DIR / "work" / a.workload
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    log = work / "jvm.log"
    before = host_state()
    try:
        result = (run_cli if a.workload == "cli_cold" else run_library)(a, work, log)
    except subprocess.TimeoutExpired as ex:
        fail(f"a JVM was still running {RUN_LIMIT_S} s into the run: {ex.cmd[-8:]}", log)
    after = host_state()
    for line in log.read_text(errors="replace").splitlines():
        if line.startswith(("perfbench:", "check:")):
            print(line, file=sys.stderr)
    want = {m["name"] for m in BENCH["per_layer" if a.trace else "end_to_end"]}
    got = set(result["metrics"])
    if got != want:
        fail(f"metric names differ from BENCHMARK.json: missing {sorted(want - got)}, "
             f"extra {sorted(got - want)}", log)
    host = {"workload": a.workload, "seed": a.seed, "trace": a.trace, "cpus": cpus(),
            "before": before, "after": after}
    with open(build.BUILD_DIR / "runs.jsonl", "a") as f:
        f.write(json.dumps({"host": host, "result": result}) + "\n")
    shutil.rmtree(work, ignore_errors=True)
    print("host: " + json.dumps(host))
    print(json.dumps(result))


def repeat(a):
    """Makes a.repeat runs with consecutive seeds, each a separate process
    exactly as a single run is made, and prints every metric's quartiles."""
    runs = []
    for i in range(a.repeat):
        cmd = [sys.executable, __file__, "--workload", a.workload, "--seed", str(a.seed + i),
               "--seconds", str(a.seconds), "--trace", str(a.trace)]
        out = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, check=True).stdout
        runs.append(json.loads(out.strip().splitlines()[-1]))
        r = runs[-1]
        shown = {} if a.trace else {k: round(v["value"], 4) for k, v in r["metrics"].items()}
        print(f"seed {a.seed + i}: attempted {r['attempted']}, failed {r['failed']} {json.dumps(shown)}",
              file=sys.stderr)
    summary = {"workload": a.workload, "trace": a.trace, "runs": len(runs),
               "failed_share": [r["failed"] / r["attempted"] for r in runs], "metrics": {}}
    for name in runs[0]["metrics"]:
        vals = [r["metrics"][name]["value"] for r in runs]
        q1, med, q3 = statistics.quantiles(vals, n=4)
        summary["metrics"][name] = {"median": med, "q1": q1, "q3": q3,
                                    "spread": (q3 - q1) / med if med else None, "values": vals}
    out = build.BUILD_DIR / "steadiness" / f"{a.workload}-trace{a.trace}-{int(time.time())}.json"
    out.parent.mkdir(parents=True, exist_ok=True)
    out.write_text(json.dumps(summary, indent=1))
    for name, m in summary["metrics"].items():
        spread = "n/a" if m["spread"] is None else f"{m['spread']:.4f}"
        print(f"{name:40s} median {m['median']:12.4f}  q1 {m['q1']:12.4f}  q3 {m['q3']:12.4f}  "
              f"spread {spread}")
    print(f"summary written to {out}")


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--repeat", type=int, default=0)
    a = p.parse_args()
    global BENCH
    try:
        BENCH = json.loads(Path("BENCHMARK.json").read_text())
    except (OSError, ValueError) as ex:
        raise SystemExit(f"run: cannot read BENCHMARK.json in the working directory: {ex}")
    if a.repeat:
        repeat(a)
    else:
        run_once(a)


if __name__ == "__main__":
    main()
