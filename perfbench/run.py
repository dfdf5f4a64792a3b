"""graft benchmark: one command per (workload, seed) run.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Builds graft and the harness from source (first run only, see build.py),
generates the run's inputs from the seed (gen.py), runs the workload in
one local-mode JVM, checks the outputs outside the timed region, and
prints one JSON line last on stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are BENCHMARK.json's end_to_end list, measured
with no listener registered; with --trace 1 they are its per_layer list,
from a run with a SparkListener and a StreamingQueryListener on the
session and every span written to perfbench/.runs/<run>/spans.jsonl.
A per-layer metric of a layer the workload does not run reads 0.  The
command exits non-zero when any operation failed or gave a wrong result.
Everything it writes stays under perfbench/.build and perfbench/.runs.
"""
import argparse
import contextlib
import io
import json
import math
import os
import shutil
import subprocess
import sys
from pathlib import Path

sys.dont_write_bytecode = True  # leave no __pycache__ in the source tree

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))
import build  # noqa: E402
import gen  # noqa: E402

CORES = int(os.environ.get("SPARK_GRAFT_CPUS", "4"))
JVM_TIMEOUT_S = 150

# CDC schedule: untimed warm-up drops (the first ticks pay JIT; ticks are
# on a plateau from about the fifth), a burst landed at once, drops at a
# fixed rate for --seconds, and a second burst.
CDC_WARM_DROPS = 5
CDC_RATE = 0.3  # drops per second, about half the rate one tick per drop sustains
CDC_BURST = 5

# Per-layer metric prefixes a workload does not exercise (reported as 0).
NOT_EXERCISED = {
    "batch_mix": ("streaming.",),
    "cdc_diff_stream": ("ops.", "core.", "functions.", "trace.overhead_ratio",
                        "trace.construct_self_s"),
}

JAVA_OPTS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")] + [
    "-Xmx2g", "-XX:-UsePerfData", "-Dspark.ui.enabled=false",
    "-Dspark.sql.session.timeZone=UTC",
    # Lower JIT thresholds: a run lasts under a minute, and with the
    # defaults the planner's hot paths are still being compiled while the
    # measured passes run.
    "-XX:Tier3InvocationThreshold=100", "-XX:Tier4InvocationThreshold=1000",
    "-XX:Tier4MinInvocationThreshold=200", "-XX:Tier4CompileThreshold=2000"]


def git_status():
    """`git status --porcelain` of the repo, or None outside a work tree."""
    try:
        r = subprocess.run(["git", "-C", str(ROOT), "status", "--porcelain"],
                           capture_output=True, text=True, timeout=30)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return r.stdout if r.returncode == 0 else None


def oracle_failures(data, results):
    """Hash-compare every result against its DuckDB oracle with the
    repo's gate replica, scripts/check.py (strict dtypes)."""
    sys.path.insert(0, str(ROOT / "scripts"))
    import check
    out = io.StringIO()
    with contextlib.redirect_stdout(out):
        check.main(str(data), str(results), strict=True)
    return [line for line in out.getvalue().splitlines()
            if line.startswith(("FAIL", "LINT-FAIL"))]


def plan_failures(plan, out_dir):
    """Each changed drop's envelopes must carry exactly its planned
    INSERT/UPDATE/DELETE counts; an unchanged drop must emit nothing."""
    import duckdb
    con = duckdb.connect()
    bad = []
    for k, ops in enumerate(plan):
        d = Path(out_dir) / f"batch={k}"
        files = sorted(d.glob("*.json"))
        if not any(ops.values()):
            if d.exists():
                bad.append(f"drop {k}: unchanged drop emitted envelopes")
            continue
        got = {"INSERT": 0, "UPDATE": 0, "DELETE": 0}
        if files:
            rows = con.execute(
                "SELECT operation, count(*) FROM read_json_auto(?) GROUP BY 1",
                [[str(f) for f in files]]).fetchall()
            got.update(dict(rows))
        if got != ops:
            bad.append(f"drop {k}: envelopes {got} != plan {ops}")
    return bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny inputs (the 0.001 scale, a few drops) to check the plumbing")
    a = ap.parse_args()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    if a.workload not in {w["name"] for w in spec["workloads"]}:
        raise SystemExit(f"perfbench: unknown workload {a.workload}")
    classes = build.build()
    before = git_status()

    run = HERE / ".runs" / f"{a.workload}-seed{a.seed}-trace{a.trace}-{os.getpid()}"
    shutil.rmtree(run, ignore_errors=True)
    work = run / "work"
    (work / "tmp").mkdir(parents=True)
    data = work / "data"
    args = ["--workload", a.workload, "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--cores", str(CORES), "--data", str(data), "--work", str(work),
            "--out", str(run / "result.json"), "--spans", str(run / "spans.jsonl")]
    plan = None
    if a.workload == "cdc_diff_stream":
        warm, burst = (2, 1) if a.smoke else (CDC_WARM_DROPS, CDC_BURST)
        scheduled = max(2, math.ceil(a.seconds * CDC_RATE))
        plan = gen.cdc_drops(str(work / "input"), a.seed, warm + 2 * burst + scheduled,
                             gen.CDC_ROWS // 10 if a.smoke else gen.CDC_ROWS)
        args += ["--rate", str(CDC_RATE), "--warm", str(warm),
                 "--scheduled", str(scheduled), "--burst", str(burst),
                 "--changed", "".join("1" if any(p.values()) else "0" for p in plan)]
    else:
        gen.batch_tables(str(data), a.seed, 0.1 if a.smoke else 1.0)
    # Write the generated inputs back to disk now: left dirty, the kernel
    # flushes them about 30 s later, in the middle of the measured phase.
    os.sync()

    env = dict(os.environ, SPARK_LOCAL_DIRS=str(work / "tmp"))
    cmd = (["java"] + JAVA_OPTS + [f"-Djava.io.tmpdir={work / 'tmp'}",
           f"-Dspark.sql.warehouse.dir={work / 'warehouse'}",
           "-cp", f"{classes}{os.pathsep}{build.spark_jars()}", "perfbench.Main"] + args)
    with open(run / "jvm.log", "w") as log:
        try:
            subprocess.run(cmd, cwd=work, env=env, stdout=log, stderr=subprocess.STDOUT,
                           timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            pass  # run() killed and reaped the JVM; the missing result fails below
    try:
        res = json.loads((run / "result.json").read_text())
    except (OSError, ValueError):
        sys.stderr.write((run / "jvm.log").read_text()[-4000:])
        raise SystemExit("perfbench: the harness JVM wrote no result")

    failures = list(res["failures"])
    info = res["info"]
    if "output_dir" in info:
        failures += plan_failures(plan, info["output_dir"])
    if "oracle_results" in info:
        failures += oracle_failures(data, info["oracle_results"])
    after = git_status()
    if before is not None and after != before:
        failures.append(f"the run changed the git tree: {after!r}")

    kind = "per_layer" if a.trace else "end_to_end"
    got = res[kind]
    metrics = {}
    for m in spec[kind]:
        name = m["name"]
        if name in got:
            value, unit = got[name]["value"], got[name]["unit"]
        elif name.startswith(NOT_EXERCISED[a.workload]):
            value, unit = 0, m["unit"]
        else:
            raise SystemExit(f"perfbench: the harness did not report {name}")
        if unit != m["unit"]:
            raise SystemExit(f"perfbench: {name} reported in {unit}, not {m['unit']}")
        metrics[name] = {"value": value, "unit": unit}

    for d in ("data", "input", "out", "meta", "checkpoint", "results", "tmp", "warehouse"):
        shutil.rmtree(work / d, ignore_errors=True)
    for f in failures:
        print(f"perfbench: FAIL {f}", file=sys.stderr)
    attempted = max(res["attempted"], 1)
    failed = min(len(failures), attempted)
    print(json.dumps({"correct": not failures, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
