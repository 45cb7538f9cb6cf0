#!/usr/bin/env python3
"""Benchmark of the graft engine: query latency end to end, split by
phase (build, plan, exec) and by program module.

Usage (from the repository root):
  python3 perfbench/run.py --workload registry|flight \
      --seed N --seconds S --trace 0|1

It compiles the program and the harness (perfbench/build.py), makes the
workload's inputs, runs perfbench.Harness in one JVM that hosts Spark
at local[4] with one closed-loop client, checks every output, and
prints each metric with its unit. The last line of standard output is
one JSON object: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end ones; with --trace 1 the
listener is attached on alternate passes and the metrics are the
per-layer ones.
"""
import argparse
import glob
import json
import os
import signal
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import build  # noqa: E402
import flightgen  # noqa: E402
import metrics  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
DATA = os.path.join(HERE, "data", "sf0.01")
EXPECTED = os.path.join(HERE, "expected.tsv")
CORES = 4
DEADLINE_S = 170  # a run never outlives this, build excluded

# The registry workload lists its queries; the seed permutes their
# order within each pass. The flight workload's seed drives the
# generator. Set-up makes two warm-up passes: after one, a pass of
# either workload still runs about a quarter slower than the next.
WARMUPS = 2
WORKLOADS = {
    "registry": {"queries": [
        "q01_scan_filter", "q05_join_multiway", "q13_window_rank", "q42_sql_tpch_q3",
        "g05_bfs_hops", "d02_dedup_minhash", "x03_corpus_curation", "ml23_grouped_ols"]},
    "flight": {"rows": 4000, "folds": 2},
}

# Linear regression on L1-normalised features recovers the planted
# ArrDelay = DepDelay + noise only up to the normalisation's spread, so
# its test RMSE must sit within this factor of the noise's deviation;
# predicting the mean alone scores about 5x.
LR_RMSE_MAX = 1.5
LR_RMSE_MIN = 0.8

OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
         "java.net", "java.nio", "java.util", "java.util.concurrent",
         "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
         "sun.security.action", "sun.util.calendar"]

END_TO_END_UNITS = {"pass_s": "s", "query_p50_s": "s", "query_p90_s": "s",
                    "setup_s": "s", "ok_frac": "ratio", "peak_rss_mb": "MB"}


def load_expected(path=EXPECTED):
    """name -> {fp, rows, check, oracle} from the expected-output file."""
    out = {}
    for line in open(path):
        line = line.strip()
        if line and not line.startswith("#"):
            name, fp, rows, check, oracle = line.split("\t")
            out[name] = {"fp": fp, "rows": int(rows), "check": check, "oracle": oracle}
    return out


def check_registry(ops, expected):
    """Mark each registry op whose output differs from the expected file.
    `check` is "fp" (fingerprint, which folds in the row count) or
    "rows" (row count only, for queries whose fingerprint varies)."""
    for o in ops:
        if o.get("error"):
            continue
        e = expected.get(o["name"])
        if e is None:
            o["wrong"] = "no expected output"
        elif e["check"] == "rows" and o["rows"] != e["rows"]:
            o["wrong"] = f"rows {o['rows']} != {e['rows']}"
        elif e["check"] == "fp" and o["fp"] != e["fp"]:
            o["wrong"] = f"fingerprint {o['fp']} != {e['fp']} (rows {o['rows']}/{e['rows']})"


def check_flight(ops, results, gen):
    """Mark the train op of each pass whose results break the planted
    relation, and the featurize op whose row count is off."""
    by_pass = {r["pass"]: r for r in results}
    sd = gen["noise_sd"]
    for o in ops:
        r = by_pass.get(o["pass"])
        if o.get("error") or o["name"] not in ("featurize", "train"):
            continue
        if r is None:
            o["wrong"] = "pipeline produced no result"
        elif o["name"] == "featurize" and r["rows"] != gen["survivors"]:
            o["wrong"] = f"rows {r['rows']} != {gen['survivors']}"
        elif o["name"] == "train":
            lr = [x for m, x in zip(r["models"], r["rmse"]) if m.startswith("LinearRegression/")]
            if len(r["models"]) != 3 or any(x is None for x in r["rmse"]):
                o["wrong"] = f"models {r['models']} rmse {r['rmse']}"
            elif len(lr) != 1 or not all(LR_RMSE_MIN * sd <= x <= LR_RMSE_MAX * sd for x in lr):
                o["wrong"] = f"LR rmse {lr} vs noise sd {sd:.3f}"


def cds_flag(workload):
    """Class-data sharing: the first run of a workload on a build dumps
    the classes it loaded into an archive at exit, and later runs map
    it, which halves JVM and session start."""
    jsa = os.path.join(build.BUILD_DIR, f"cds-{workload}-{build.stamp()}.jsa")
    if os.path.exists(jsa):
        return f"-XX:SharedArchiveFile={jsa}"
    return f"-XX:ArchiveClassesAtExit={jsa}"


def java_cmd(args):
    opens = [x for p in OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    return (["java"] + opens + [cds_flag(args["workload"]), "-Xmx2g", "-Xmn512m",
                                "-Dspark.ui.enabled=false",
                                "-Dspark.sql.session.timeZone=UTC",
                                "-cp", build.classpath(), "perfbench.Harness"]
            + [f"{k}={v}" for k, v in args.items()])


def run_harness(args, log_path, timeout):
    with open(log_path, "w") as log:
        p = subprocess.Popen(java_cmd(args), stdout=log, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise SystemExit(f"harness exceeded {timeout:.0f} s; log in {log_path}")


def registry_files():
    return sorted(glob.glob(os.path.join("src", "main", "scala", "**", "*.scala"),
                            recursive=True))


def summarize(recs, workload, trace, gen=None):
    """Checks every op's output and computes the run's metrics; `gen` is
    the flight generator's report."""
    by = {}
    for r in recs:
        by.setdefault(r["kind"], []).append(r)
    ops = by.get("op", [])
    passes = by.get("pass", [])
    measured = [o for o in ops if o["pass"] >= 0]
    if workload == "flight":
        check_flight(ops, by.get("flight_result", []), gen)
    else:
        check_registry(ops, load_expected())

    def pass_s(p):
        return sum(o["total_s"] for o in measured if o["pass"] == p["pass"])

    untraced = [p for p in passes if not p["traced"]]
    m = {}
    if not trace:
        samples = [o["total_s"] for o in measured]
        m["pass_s"] = metrics.median([pass_s(p) for p in untraced])
        m["query_p50_s"] = metrics.percentile(samples, 50)
        m["query_p90_s"] = metrics.percentile(samples, 90)
        m["setup_s"] = by["setup"][0]["session_s"] + by["setup"][0]["warmup_s"]
        m["ok_frac"] = 1.0 - metrics.failed_frac(ops)
        m["peak_rss_mb"] = by["jvm"][0]["vmhwm_kb"] / 1024.0
        tail = metrics.samples_beyond(len(samples), 90)
        print(f"# {len(samples)} query samples over {len(untraced)} passes; {tail} beyond p90"
              + ("" if tail >= metrics.MIN_TAIL else
                 f", fewer than the {metrics.MIN_TAIL} a reported percentile should have"))
        units = END_TO_END_UNITS
    else:
        traced = [p for p in passes if p["traced"]]
        fmods = metrics.file_modules(registry_files())
        per_pass = []
        for p in traced:
            pops = [o for o in measured if o["pass"] == p["pass"]]
            trace_ = metrics.Trace(recs, pops, fmods)
            if workload == "flight":
                lm = metrics.flight_pass_layers(pops, trace_)
            else:
                lm = metrics.registry_pass_layers(
                    pops, [r for r in by.get("resolve", []) if r["pass"] == p["pass"]],
                    trace_, CORES)
            lm["jvm.gc_s"] = p["gc_s"]
            per_pass.append(lm)
        unknown = set(k for lm in per_pass for k in lm) - set(metrics.PER_LAYER)
        assert not unknown, f"per-layer metrics missing from PER_LAYER: {unknown}"
        m = {k: metrics.median([lm.get(k, 0) for lm in per_pass])
             for k in metrics.PER_LAYER_NAMES}
        m["trace_overhead_frac"] = (
            metrics.median([pass_s(p) for p in traced]) /
            metrics.median([pass_s(p) for p in untraced]) - 1.0)
        m["failed_frac"] = metrics.failed_frac(ops)
        m["SparkEntry.registry_s"] = by["run"][0]["registry_s"]
        units = metrics.PER_LAYER
    for o in ops:
        if o.get("error") or o.get("wrong"):
            print(f"# FAILED {o['name']} pass {o['pass']}: "
                  f"{o.get('error') or 'wrong output'} {o.get('message') or o.get('wrong')}")
    failed = sum(1 for o in ops if o.get("error") or o.get("wrong"))
    return {"correct": failed == 0, "attempted": len(ops), "failed": failed,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in m.items()}}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--record", help="write the observed outputs to this file "
                    "instead of checking them (registry workloads)")
    a = ap.parse_args()
    build.build()
    started = time.time()
    w = WORKLOADS[a.workload]
    work = os.path.join(build.BUILD_DIR, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    out = os.path.join(work, "records.jsonl")
    args = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
            "trace": a.trace, "warmups": WARMUPS, "out": out}
    gen = None
    if a.workload == "flight":
        gen = flightgen.generate(a.seed, w["rows"], os.path.join(work, "flight"))
        args.update(flights=gen["flights"], planes=gen["planes"], folds=w["folds"])
    else:
        args.update(data=DATA, queries=",".join(w["queries"]))
        if a.record:
            args.update(record=1)
        else:
            args.update(expected=EXPECTED)
    log = os.path.join(work, "harness.log")
    rc = run_harness(args, log, DEADLINE_S - (time.time() - started))
    if rc != 0:
        sys.stderr.write(open(log).read()[-3000:])
        raise SystemExit(f"harness failed with code {rc}")
    recs = [json.loads(line) for line in open(out)]
    if a.record:
        record_expected(recs, a.record)
        return
    result = summarize(recs, a.workload, bool(a.trace), gen)
    for k, v in result["metrics"].items():
        print(f"{k} {v['value']:.6g} {v['unit']}")
    print(json.dumps(result))


def record_expected(recs, path):
    """Append name, fingerprint and row count of every op to `path`."""
    seen = {}
    for o in recs:
        if o["kind"] == "op" and not o.get("error"):
            seen.setdefault(o["name"], set()).add((o["fp"], o["rows"]))
    with open(path, "a") as f:
        for name, outs in sorted(seen.items()):
            for fp, rows in sorted(outs):
                f.write(f"{name}\t{fp}\t{rows}\n")


if __name__ == "__main__":
    main()
