"""One command for the benchmark: build, generate a workload's inputs from
the seed, drive the program through the connector's production entry points
on local[nproc], check every output it reads back, and print the metrics.

    python3 perfbench/run.py --workload sink_stream --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --self-test

Run from the root of a checkout. The last stdout line is one JSON object
with the keys correct, attempted, failed and metrics: the end-to-end metrics
of BENCHMARK.json with --trace 0, its per-layer metrics with --trace 1. The
exit code is non-zero when any output check fails. Lines before it give each
metric with its unit and sample count. The program's log, and a traced
run's spans, are kept in .bench_work/reports/.
"""

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import gen  # noqa: E402

WORK_ROOT = ".bench_work"
JVM_TIMEOUT_S = 170
ADD_OPENS = [f"java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def metric_spec(trace):
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    return spec["per_layer" if trace else "end_to_end"], [w["name"] for w in spec["workloads"]]


def run_jvm(classes, workload, work, seconds, trace, t0_ms, corrupt=False):
    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false"]
    for o in ADD_OPENS:
        cmd += ["--add-opens", o]
    cmd += ["-cp", build.classpath(classes), "perfbench.Main",
            "--workload", workload, "--work", work, "--seconds", str(seconds),
            "--trace", "1" if trace else "0", "--cores", str(cores),
            "--t0-ms", str(t0_ms), "--corrupt", "1" if corrupt else "0"]
    with open(os.path.join(work, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True)
        try:
            out, _ = p.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise SystemExit(f"{workload}: program did not finish in {JVM_TIMEOUT_S} s")
    lines = [l for l in out.splitlines() if l.startswith("RESULT ")]
    if not lines:
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"{workload}: program printed no result (exit {p.returncode})")
    return json.loads(lines[-1][len("RESULT "):]), p.returncode


def run(workload, seed, seconds, trace, corrupt=False):
    """Return (final JSON object, report lines, program exit code)."""
    specs, workloads = metric_spec(trace)
    if workload not in workloads:
        raise SystemExit(f"unknown workload {workload}; one of {workloads}")
    classes = build.build()
    work = os.path.abspath(os.path.join(WORK_ROOT, f"{workload}-{seed}-{os.getpid()}"))
    shutil.rmtree(work, ignore_errors=True)
    try:
        t0_ms = int(time.time() * 1000)  # set-up starts: generation, JVM, warm-up
        gen.generate(workload, seed, work)
        res, code = run_jvm(classes, workload, work, seconds, trace, t0_ms, corrupt)
    finally:
        reports = os.path.join(WORK_ROOT, "reports")
        os.makedirs(reports, exist_ok=True)
        for src, dst in (("jvm.log", f"{workload}_jvm.log"),
                         ("trace/spans.json", f"{workload}_spans.json")):
            if os.path.exists(os.path.join(work, src)):
                shutil.copy(os.path.join(work, src), os.path.join(reports, dst))
        shutil.rmtree(work, ignore_errors=True)
    got = res["metrics"]
    report = [f"# {workload} seed={seed} seconds={seconds} trace={int(trace)} "
              f"attempted={res['attempted']} failed={res['failed']}"]
    report += [f"# note: {n}" for n in res.get("notes", [])]
    metrics, missing = {}, []
    for m in specs:
        if m["name"] not in got:
            missing.append(m["name"])
            continue
        v = got[m["name"]]
        metrics[m["name"]] = {"value": v["value"], "unit": m["unit"]}
        report.append(f"{m['name']:32s} {v['value']:>16.6g} {m['unit']:6s} "
                      f"samples={v['samples']}")
    if missing:
        sys.stderr.write("\n".join(report) + "\n")
        raise SystemExit(f"{workload}: program reported no {', '.join(missing)}")
    result = {"correct": bool(res["correct"]), "attempted": int(res["attempted"]),
              "failed": int(res["failed"]), "metrics": metrics}
    return result, report, code


def self_test():
    """Negative self-test: damage one written object before it is checked;
    the run must report a failure and exit non-zero."""
    result, report, code = run("sink_stream", 1, 1, False, corrupt=True)
    print("\n".join(report))
    if code != 0 and not result["correct"] and result["failed"] > 0:
        print("self-test passed: the damaged object was caught "
              f"(failed={result['failed']}, exit {code})")
        return 0
    print(f"self-test FAILED: damaged object not caught (exit {code})")
    return 1


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    if a.self_test:
        return self_test()
    if not a.workload:
        ap.error("--workload is required")
    result, report, code = run(a.workload, a.seed, a.seconds, bool(a.trace))
    print("\n".join(report))
    print(json.dumps(result))
    return 0 if code == 0 and result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
