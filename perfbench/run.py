"""Benchmark entry point: one run of one workload.

    python3 perfbench/run.py --workload cdc --seed 1 --seconds 8 --trace 0

Run from the repository root. Builds the library and the benchmark
package into `.bench_build` (first run only), generates the workload's
inputs from the seed, runs it in one JVM, checks the outputs, and prints
one JSON line: `correct`, `attempted`, `failed` and the end-to-end
metrics (`--trace 0`) or the per-layer metrics (`--trace 1`). The full
run record (environment, per-query and per-rung detail, errors) goes to
`.bench_build/runs/`. Exits non-zero when an output is wrong.

`--smoke` shrinks every workload (sf0.001 data, low rates, small
backlog) for a quick end-to-end check; its figures are not comparable.
"""
import argparse
import json
import math
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import datagen  # noqa: E402

WORKLOADS = ("cdc", "analytics")
ANALYTICS_SF = 0.01
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def spec():
    with open("BENCHMARK.json") as fh:
        return json.load(fh)


def jvm(cp, work, argv):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xms3g", "-Xmx3g", "-XX:-UsePerfData", "-XX:ReservedCodeCacheSize=512m",
           "-XX:+UseCodeCacheFlushing", f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.local.dir={tmp}",
           f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main"] + argv
    log = open(os.path.join(work, "jvm.log"), "w")
    p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True)
    try:
        out, _ = p.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        p.kill()
        p.communicate()
        raise SystemExit(f"run: workload JVM exceeded {JVM_TIMEOUT_S} s")
    finally:
        log.close()
    lines = [ln for ln in out.splitlines() if ln.startswith("{")]
    if p.returncode != 0 or not lines:
        with open(os.path.join(work, "jvm.log")) as fh:
            sys.stderr.write(fh.read()[-4000:])
        raise SystemExit(f"run: workload JVM failed (code {p.returncode})")
    return json.loads(lines[-1])


def oracle_check(data_dir, out_dir):
    """DuckDB oracle over the timed session's outputs, via the project's
    own checker, unchanged."""
    r = subprocess.run([sys.executable, "tools/check.py", data_dir, out_dir],
                       capture_output=True, text=True, timeout=120)
    fails = [ln for ln in r.stdout.splitlines() if ln.startswith("FAIL")]
    passes = sum(1 for ln in r.stdout.splitlines() if ln.startswith("PASS"))
    return r.returncode == 0 and not fails, passes, fails


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    a = ap.parse_args()

    bench = spec()
    t_build = time.time()
    cp = build.build()
    build_s = time.time() - t_build
    base = os.path.abspath(os.path.join(build.BUILD, "work"))
    work = os.path.join(base, f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    data = os.path.join(work, "data")
    # write back what earlier runs left dirty, so it does not land inside
    # this run's clock
    os.sync()
    try:
        if a.workload == "analytics":
            datagen.generate(data, a.seed, 0.001 if a.smoke else ANALYTICS_SF)
        res = jvm(cp, work, [a.workload, str(a.seed), str(a.seconds),
                             str(a.trace), work, data, "1" if a.smoke else "0"])
        errors = list(res["errors"])
        if a.workload == "analytics" and not errors:
            ok, passes, fails = oracle_check(res["env"]["data_dir"],
                                             res["env"]["oracle_dir"])
            res["env"]["oracle_pass"] = passes
            errors += fails
            if not ok and not fails:
                errors.append("oracle check did not complete")
    finally:
        record = locals().get("res", {})
        shutil.rmtree(work, ignore_errors=True)
    res["env"]["build_s"] = build_s

    kind = "per_layer" if a.trace else "end_to_end"
    source = res["layers"] if a.trace else res["e2e"]
    metrics = {}
    for m in bench[kind]:
        v = source.get(m["name"])
        if v is None or (isinstance(v, float) and math.isnan(v)):
            if a.trace:
                v = 0.0  # a layer the workload does not exercise
            else:
                errors.append(f"metric {m['name']} not measured")
                continue
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    correct = not errors
    out = {"correct": correct, "attempted": int(res["attempted"]),
           "failed": int(res["failed"]), "metrics": metrics}
    runs = os.path.join(build.BUILD, "runs")
    os.makedirs(runs, exist_ok=True)
    with open(os.path.join(runs, f"{a.workload}-seed{a.seed}-trace{a.trace}.json"),
              "w") as fh:
        json.dump(dict(record, result=out, errors=errors), fh, indent=1)
    for e in errors:
        print(f"error: {e}", file=sys.stderr)
    print(json.dumps(out))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
