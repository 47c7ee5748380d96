"""The repo benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload backfill_wide --seed 1 --seconds 20 --trace 0

Builds the engine and the benchmark from source when needed (see
build.py), runs the workload in one JVM at local[<cores>], checks the
engine's outputs, and prints one JSON line last on stdout:
{"correct", "attempted", "failed", "metrics"}. --trace 0 reports the
end-to-end metrics; --trace 1 the per-layer metrics from traced rounds.
Everything else (per-workload latencies, spans, tracing overhead) goes to
stderr and to <build dir>/perfbench/reports/. See README.md.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import metrics  # noqa: E402

# Workload sizes: what each run generates and loops over.
WORKLOADS = {
    "backfill_wide": ["--cities", "3"],
    "query_sample": ["--sf", "0.01", "--step", "36",
                     "--expected", os.path.join(HERE, "expected", "query_sample.json")],
}

DEADLINE_S = 175  # a run must end within 180 s once built


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", help="write the query_sample content digests here")
    a = ap.parse_args()

    jar, archive = build.ensure_built()
    started = time.monotonic()
    base = os.path.join(build.build_dir(), "perfbench")
    work = os.path.join(base, f"work-{a.workload}-{os.getpid()}")
    out = os.path.join(work, "result.json")
    os.makedirs(os.path.join(work, "tmp"))
    cmd = build.java_cmd(
        jar, work,
        ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
         "--trace", str(a.trace)] + WORKLOADS[a.workload] +
        (["--record", os.path.abspath(a.record)] if a.record else []),
        f"-XX:SharedArchiveFile={archive}" if archive else "-Xshare:auto")
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr)
    # a terminated benchmark takes its JVM down with it
    signal.signal(signal.SIGTERM, lambda *_: sys.exit("[perfbench] terminated"))
    try:
        code = proc.wait(timeout=max(30, DEADLINE_S - (time.monotonic() - started)))
    except subprocess.TimeoutExpired:
        code = None
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    try:
        if code is None:
            raise SystemExit("[perfbench] the run did not finish in time")
        if code != 0:
            raise SystemExit(f"[perfbench] the JVM exited with {code}")
        with open(out) as fh:
            raw = json.load(fh)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    e2e, tail_info = metrics.end_to_end(raw)
    layer, detail = metrics.per_layer(raw)
    report = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "cores": raw["cores"], "info": raw["info"], "setup_reps_s": raw["setup_reps_s"],
        "attempted": raw["attempted"],
        "failed": raw["failed"], "failed_frac": metrics.ratio(raw["failed"], raw["attempted"]),
        "failures": raw["failures"],
        "end_to_end": {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()},
        "tail": tail_info, "by_kind": metrics.by_kind(raw),
        "per_layer": ({k: {"value": v, "unit": u} for k, (v, u) in layer.items()}
                      if a.trace else {}),
        "layer_detail": detail if a.trace else {},
        "rounds": raw["rounds"], "requests": raw["requests"], "counters": raw["counters"],
        "tracing": raw.get("tracing"),
    }
    reports = os.path.join(base, "reports")
    os.makedirs(reports, exist_ok=True)
    path = os.path.join(reports, f"{a.workload}-seed{a.seed}-trace{a.trace}.json")
    with open(path, "w") as fh:
        json.dump(report, fh, indent=1)

    log = sys.stderr
    print(f"[perfbench] {a.workload} seed={a.seed} attempted={raw['attempted']} "
          f"failed={raw['failed']} failed_frac={report['failed_frac']:.4f}", file=log)
    for why in raw["failures"][:10]:
        print(f"[perfbench]   FAILED {why}", file=log)
    for k, (v, u) in e2e.items():
        print(f"[perfbench]   {k:<28} {v:>14.6g} {u}", file=log)
    print(f"[perfbench]   p50_s {tail_info['p50_s']:.6g} s, tail_s {tail_info['tail_s']:.6g} s "
          f"at percentile {tail_info['tail_percentile']:.1f} "
          f"over {tail_info['tail_samples']} requests", file=log)
    for k, v in report["by_kind"].items():
        print(f"[perfbench]   {k:<28} {v:>14.6g}", file=log)
    if a.trace:
        for k, (v, u) in layer.items():
            print(f"[perfbench]   {k:<28} {v:>14.6g} {u}", file=log)
        for k, v in detail.items():
            print(f"[perfbench]   {k:<28} {v:>14.6g}", file=log)
    print(f"[perfbench] report: {path}", file=log)

    chosen = layer if a.trace else e2e
    print(json.dumps({
        "correct": raw["failed"] == 0,
        "attempted": raw["attempted"],
        "failed": raw["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in chosen.items()},
    }))


if __name__ == "__main__":
    main()
