"""Pipeline benchmark: one command for every workload.

    python3 perfbench/run.py --workload daily_steady --seed 1 --seconds 1 --trace 0

Builds the program and the benchmark from source (see build.py), runs the
workload in one JVM at local[nproc], checks every output, prints the metrics
by name with unit and sample count, and prints as its last line one JSON
object: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end metrics of BENCHMARK.json; with --trace 1 they are
its per-layer metrics, from a separate traced run that also records spans
(.bench_build/traces/) and a single-core baseline.

Exits non-zero, without a result line, when the build or the run fails, and
with a result line but non-zero when an output check fails.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

ROOT = build.ROOT
OUT = build.OUT
RUN_TIMEOUT_S = 170

# End-to-end metrics under their workload-specific names, as (name, source
# in the run's output, kind of workload that reports it). BENCHMARK.json
# uses the generic names, which every workload reports.
NAMED = [
    ("setup_s", "end_to_end:setup_s", None),
    ("day_run_s.p50", "end_to_end:daily_s.p50", "pipeline"),
    ("weekly_report_s.p50", "end_to_end:report_s.p50", "pipeline"),
    ("ingest_rows_per_s", "end_to_end:rows_per_s", "pipeline"),
    ("warehouse_bytes_per_lake_byte", "end_to_end:bytes_out_per_in", "pipeline"),
    ("stream_cycle_s.p50", "end_to_end:cycle_s.p50", "stream"),
    ("stream_cycle_s.p75", "detail:stream_cycle_s.p75", "stream"),
    ("stream_rows_per_s", "end_to_end:rows_per_s", "stream"),
    ("sentinel_total_s", "end_to_end:sentinel_total_s", "sentinels"),
    ("sentinel_geomean_s", "end_to_end:sentinel_geomean_s", "sentinels"),
    ("mem_after_gc_mb", "end_to_end:mem_after_gc_mb", None),
    ("peak_rss_mb", "detail:peak_rss_mb", None),
]
WORKLOAD_KIND = {"daily_steady": "pipeline", "stream_cycles": "stream",
                 "operator_sentinels": "sentinels"}


def fmt(m):
    return f"{m['value']:.6g} {m['unit']} (n={m['n']})"


def report(args, res, spec):
    kind = WORKLOAD_KIND[args.workload]
    info = res["info"]
    print(f"workload {args.workload}  seed {args.seed}  trace {args.trace}  "
          f"spark {info['spark_version']}  nproc {info['nproc']}  heap {info['heap_mb']} MB  "
          f"run {info['run']}")
    print("end-to-end (workload-specific names):")
    for name, src, only in NAMED:
        sec, key = src.split(":")
        m = res[sec].get(key)
        if only and only != kind:
            text = "not run by this workload"
        else:
            text = fmt(m) if m else "missing"
        print(f"  {name:34s} {text}")
    ratio = res["failed"] / max(1, res["attempted"])
    print(f"  {'failed_ops_ratio':34s} {ratio:.6g} ({res['failed']}/{res['attempted']})")
    print("end-to-end (all; BENCHMARK.json bounds those marked *):")
    bounded = {m["name"] for m in spec["end_to_end"]}
    for k, x in res["end_to_end"].items():
        print(f"  {k:32s}{'*' if k in bounded else ' '} {fmt(x)}")
    if args.trace:
        print("per-layer (BENCHMARK.json names):")
        for m in spec["per_layer"]:
            x = res["per_layer"].get(m["name"])
            print(f"  {m['name']:34s} {fmt(x) if x else 'missing'}")
        print("per-layer, by module:")
        for k, x in res["detail"].items():
            print(f"  {k:42s} {fmt(x)}")
        if "scaling.local1_ratio" in res["per_layer"]:
            print(f"  {'scaling.' + args.workload:42s} {fmt(res['per_layer']['scaling.local1_ratio'])}")
        base = untraced_result(args.workload, args.seed)
        if base:
            print("tracing overhead (traced minus untraced run of "
                  f"seed {base['seed']}):")
            for k, x in res["end_to_end"].items():
                y = base["end_to_end"].get(k)
                if y:
                    print(f"  {k:34s} {x['value'] - y['value']:+.6g} {x['unit']}")
        else:
            print("tracing overhead: no untraced run of this workload in this checkout yet")
    for msg in res["messages"]:
        print(f"  check failed: {msg}")


def untraced_result(workload, seed):
    found = sorted((OUT / "results").glob(f"{workload}-seed*-trace0-*.json"),
                   key=lambda p: p.stat().st_mtime)
    same = [p for p in found if f"-seed{seed}-" in p.name]
    pick = (same or found)[-1:] if found else []
    if not pick:
        return None
    res = json.loads(pick[0].read_text())
    res["seed"] = pick[0].name.split("-seed")[1].split("-")[0]
    return res


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOAD_KIND))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    jvm = build.build()
    nproc = len(os.sched_getaffinity(0))
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
    work = OUT / "work" / tag
    for d in (work / "tmp", OUT / "results", OUT / "traces", OUT / "logs"):
        d.mkdir(parents=True, exist_ok=True)
    out = OUT / "results" / f"{tag}.json"
    spans = OUT / "traces" / f"{tag}.jsonl"
    log = OUT / "logs" / f"{tag}.log"
    cmd = [build.java(), *jvm, f"-Djava.io.tmpdir={work / 'tmp'}", "perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace), "--cores", str(nproc),
           "--work", str(work), "--out", str(out), "--spans", str(spans)]
    t0 = time.time()
    with open(log, "w") as err:
        proc = subprocess.Popen(cmd, stdout=err, stderr=subprocess.STDOUT, cwd=str(ROOT))
        try:
            rc = proc.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = None
    shutil.rmtree(work, ignore_errors=True)
    if rc != 0 or not out.exists():
        sys.stderr.write(log.read_text()[-4000:])
        sys.exit(f"run failed (exit {rc}, {time.time() - t0:.0f} s); log in {log}")

    res = json.loads(out.read_text())
    report(args, res, spec)
    section = "per_layer" if args.trace else "end_to_end"
    metrics = {}
    for m in spec[section]:
        x = res[section].get(m["name"])
        if x is None:
            res["correct"] = False
            print(f"  metric {m['name']} was not measured")
            continue
        metrics[m["name"]] = {"value": x["value"], "unit": x["unit"]}
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    sys.exit(0 if res["correct"] else 1)


if __name__ == "__main__":
    main()
