"""graft benchmark runner.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the library and the harness from
source (perfbench/build.py), launches one benchmark JVM directly with
`java` (the classpath plus the --add-opens list build.sbt uses), and prints
as its last stdout line one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are BENCHMARK.json's end_to_end list, with
--trace 1 its per_layer list. The JVM's full record (every mode-specific
figure, the checks, the per-layer metrics a workload does not exercise and
why) is kept under .bench_build/perfbench/records/, next to the span file
of traced runs. Workloads and their constants are described in
perfbench/README.md.
"""
import argparse
import glob
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("backfill", "serve_live")
# a fixed heap: no heap resizing between runs, so memory and GC figures
# do not depend on when the collector chose to grow it; no perf-data file
# outside the checkout
JVM_OPTS = ["-Xms2g", "-Xmx2g", "-XX:-UsePerfData"]
RUN_CAP_S = 170


def log(msg):
    print("[perfbench] " + msg, file=sys.stderr, flush=True)


def load_spec():
    with open("BENCHMARK.json", encoding="utf-8") as fh:
        return json.load(fh)


def launch(cp, args, run_dir, spans, timeout_s):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    cmd = ["java"] + JVM_OPTS + build.add_opens() + [
        "-Djava.io.tmpdir=" + tmp, "-cp", cp, "perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace)]
    if spans:
        cmd += ["--spans", spans]
    err_path = os.path.join(run_dir, "jvm.log")
    with open(err_path, "w") as err:
        p = subprocess.Popen(cmd, cwd=run_dir, stdout=subprocess.PIPE, stderr=err,
                             start_new_session=True, text=True)
        try:
            out, _ = p.communicate(timeout=timeout_s)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.communicate()
            raise RuntimeError("benchmark JVM exceeded %d s" % timeout_s)
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
    lines = [l for l in out.splitlines() if l.strip()]
    for l in lines[:-1]:
        print(l, file=sys.stderr)
    if not lines:
        raise RuntimeError("benchmark JVM printed no record (exit %d)" % p.returncode)
    return json.loads(lines[-1]), p.returncode


def tracing_overhead(records_dir, workload, seed, traced):
    """Traced end-to-end value minus the untraced one, from the untraced
    record of the same workload (same seed when present)."""
    same = os.path.join(records_dir, "%s-seed%s-trace0.json" % (workload, seed))
    cands = [same] if os.path.exists(same) else sorted(
        glob.glob(os.path.join(records_dir, "%s-seed*-trace0.json" % workload)),
        key=os.path.getmtime)
    if not cands:
        return {"missing": "no untraced record of %s in this checkout" % workload}
    with open(cands[-1]) as fh:
        base = json.load(fh)
    out = {"against": os.path.basename(cands[-1])}
    for k, v in traced.get("end_to_end", {}).items():
        b = base.get("end_to_end", {}).get(k)
        if b and isinstance(v.get("value"), (int, float)) and isinstance(b.get("value"), (int, float)):
            out[k] = {"value": v["value"] - b["value"], "unit": v["unit"]}
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t0 = time.time()
    try:
        spec = load_spec()
        cp = build.build()
    except (OSError, ValueError, build.BuildError) as e:
        log("cannot build the benchmark: %s" % e)
        return 2
    cp = os.pathsep.join(os.path.abspath(p) if not p.endswith("*") else
                         os.path.join(os.path.abspath(os.path.dirname(p)), "*")
                         for p in cp.split(os.pathsep))
    built_s = time.time() - t0
    records = os.path.abspath(os.path.join(build.OUT, "records"))
    os.makedirs(records, exist_ok=True)
    run_dir = os.path.abspath(os.path.join(build.OUT, "runs", "%s-%d-%d-%d" % (
        args.workload, args.seed, args.trace, os.getpid())))
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    base = "%s-seed%d-trace%d" % (args.workload, args.seed, args.trace)
    spans = os.path.join(records, base + ".spans.jsonl") if args.trace else None
    # the first run of a checkout pays the build; later runs keep the cap
    timeout_s = RUN_CAP_S if built_s > 5 else max(30, RUN_CAP_S - built_s)
    try:
        rec, code = launch(cp, args, run_dir, spans, timeout_s)
    except (RuntimeError, ValueError) as e:
        log("run failed: %s; JVM log: %s" % (e, os.path.join(run_dir, "jvm.log")))
        return 1
    if args.trace:
        rec["trace_overhead"] = tracing_overhead(records, args.workload, args.seed, rec)
    with open(os.path.join(records, base + ".json"), "w") as fh:
        json.dump(rec, fh, indent=1, sort_keys=True)

    section = "per_layer" if args.trace else "end_to_end"
    have = rec.get(section, {})
    metrics, absent = {}, []
    for m in spec[section]:
        v = have.get(m["name"])
        if v is None or not isinstance(v.get("value"), (int, float)) or \
                not math.isfinite(v["value"]):
            absent.append(m["name"])
        else:
            metrics[m["name"]] = {"value": v["value"], "unit": m["unit"]}
    correct = bool(rec.get("correct")) and not absent
    if rec.get("error"):
        log("workload error: " + rec["error"])
    if absent:
        log("metrics not measured: " + ", ".join(absent))
    for name, ok in rec.get("checks", {}).items():
        log("check %s: %s" % (name, "ok" if ok else "FAILED " +
                              str(rec.get("detail", {}).get("check." + name, ""))))
    for why in rec.get("invalid", []):
        log("run invalid: " + why)
    log("record: " + os.path.join(records, base + ".json"))
    print(json.dumps({"correct": correct, "attempted": int(rec.get("attempted", 1)),
                      "failed": int(rec.get("failed", 0)), "metrics": metrics}))
    if code == 0:
        shutil.rmtree(run_dir, ignore_errors=True)
    else:
        log("JVM exit %d; log kept at %s" % (code, os.path.join(run_dir, "jvm.log")))
    return 0 if code == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
