"""Arithmetic over the harness's records: end-to-end and per-layer
metrics of one run. Pure functions; perfbench/tests/test_metrics.py
covers them.

Record kinds (one JSON object per line, written by perfbench.Harness):
  run, setup, pass, op, resolve, flight_result, jvm    -- the harness
  sql_start, job_start, job_end, stage_submit,
  stage_end, task, block                               -- the listener
Times named t, t0, t1, launch, finish and marks are epoch milliseconds;
names ending in _s are seconds.
"""
import math
import statistics

MIN_TAIL = 10  # samples a reported percentile must have beyond it

# Modules that get their own <module>.jobs / <module>.job_s metrics.
MODULES = ["core.Tables", "core.Sinks", "ext.Graph", "ext.Dedup",
           "ext.Curation", "queries.Relational", "queries.MlQueries",
           "mlx.FlightPipeline", "ops.Profile"]
PHASES = ["build", "plan", "exec"]
FLIGHT_STAGES = ["ingest", "clean", "engineer", "correlate", "featurize",
                 "select", "train"]
MB = 1024.0 * 1024.0


def _unit(name):
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_frac") or name.endswith("_ratio"):
        return "ratio"
    return "count"


# Every per-layer metric a traced run prints, on either workload; one
# that does not apply to the workload reads 0.
PER_LAYER_NAMES = (
    ["build_s", "build.jobs", "build.task_s", "build.busy_frac", "build.driver_gap_s",
     "build.unattributed_jobs", "plan_s", "plan.exchanges", "plan.jobs",
     "exec_s", "exec.jobs", "exec.stages", "exec.tasks", "exec.task_s",
     "exec.busy_frac", "exec.task_wait_s", "exec.straggler_ratio",
     "exec.shuffle_read_mb", "exec.shuffle_write_mb", "exec.spill_mb", "tasks_failed",
     "core.Tables.resolve_s", "SparkEntry.registry_s"]
    + [f"{m}.{k}" for m in MODULES for k in ("jobs", "job_s")]
    + ["other_modules.jobs", "unattributed.jobs"]
    + [f"mlx.{s}_s" for s in FLIGHT_STAGES] + ["mlx.train.jobs", "mlx.cache_mb",
                                               "jvm.gc_s", "trace_overhead_frac", "failed_frac"])
PER_LAYER = {n: _unit(n) for n in PER_LAYER_NAMES}


def percentile(values, p):
    """p-th percentile (0..100) by linear interpolation between ranks."""
    xs = sorted(values)
    if not xs:
        raise ValueError("no samples")
    k = (len(xs) - 1) * p / 100.0
    lo, hi = math.floor(k), math.ceil(k)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def samples_beyond(n, p):
    """How many of n samples lie above the p-th percentile."""
    return n - math.ceil(n * p / 100.0)


def median(values):
    return statistics.median(values) if values else 0.0


def failed_frac(ops):
    """(exceptions + wrong outputs) / operations attempted."""
    if not ops:
        raise ValueError("no operations attempted")
    return sum(1 for o in ops if o.get("error") or o.get("wrong")) / len(ops)


def union_ms(intervals, lo, hi):
    """Length of the union of [a, b) intervals clipped to [lo, hi)."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total, end = 0, lo
    for a, b in clipped:
        if b <= a or b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def driver_gap_s(lo, hi, job_intervals):
    """Time in [lo, hi) during which no job was running, in seconds."""
    return ((hi - lo) - union_ms(job_intervals, lo, hi)) / 1e3


def busy_frac(task_s, wall_s, cores):
    """Share of the cores' time spent running tasks."""
    return task_s / (wall_s * cores) if wall_s > 0 else 0.0


def straggler_ratio(stages):
    """max / median task time in the longest stage. `stages` holds
    (stage duration, [task durations]) pairs."""
    stages = [s for s in stages if s[1]]
    if not stages:
        return 1.0
    tasks = max(stages, key=lambda s: s[0])[1]
    return max(tasks) / max(statistics.median(tasks), 1e-9)


def module_of_frame(frame):
    """`graft.ext.Graph$.$anonfun$g01$1(Graph.scala:90)` -> `ext.Graph`."""
    cls = frame.split("(")[0].rsplit(".", 1)[0]
    if not cls.startswith("graft."):
        return None
    return cls[len("graft."):].split("$")[0]


def module_of_site(site, file_modules):
    """`parquet at Tables.scala:15` -> `core.Tables`, through the map of
    source file names to modules; None for a file outside the program or
    a name two modules share."""
    if " at " not in site:
        return None
    return file_modules.get(site.rsplit(" at ", 1)[1].split(":")[0])


def file_modules(paths):
    """Source paths under src/main/scala/graft -> {file name: module};
    a file name that occurs twice maps to nothing."""
    seen = {}
    for p in paths:
        parts = p.replace("\\", "/").split("/")
        if "graft" not in parts or not p.endswith(".scala"):
            continue
        rel = parts[parts.index("graft") + 1:]
        mod = ".".join(rel)[:-len(".scala")]
        seen.setdefault(rel[-1], []).append(mod)
    return {f: m[0] for f, m in seen.items() if len(m) == 1}


def attribute(job, sql_frames, fmods, op=None):
    """Module a job's work belongs to: its own innermost graft frame,
    else that of the SQL execution it ran under, else its call-site
    file, else the module of the stage function the harness was calling
    (an op's `module`, set for the flight stages, whose MLlib jobs run
    on pool threads); None when none of them names a program module."""
    for frame in (job.get("frame"), sql_frames.get(job.get("exec"))):
        if frame:
            m = module_of_frame(frame)
            if m:
                return m
    return module_of_site(job.get("site", ""), fmods) or (op or {}).get("module")


def locate(t, ops):
    """(op, phase index) whose window holds time t, or (None, None).
    An op's window is [t0, marks[-1]]; phase i ends at marks[i]."""
    for o in ops:
        marks = o["marks"]
        if marks and o["t0"] <= t <= marks[-1]:
            for i, m in enumerate(marks):
                if t <= m:
                    return o, i
    return None, None


class Trace:
    """Listener records of a run, joined: jobs with their stages, tasks,
    phase and module."""

    def __init__(self, recs, ops, fmods):
        by = {}
        for r in recs:
            by.setdefault(r["kind"], []).append(r)
        sql_frames = {r["exec"]: r["frame"] for r in by.get("sql_start", [])}
        ends = {r["job"]: r for r in by.get("job_end", [])}
        self.submit = {(r["stage"], r["attempt"]): r["t"] for r in by.get("stage_submit", [])}
        self.stage_end = {(r["stage"], r["attempt"]): r for r in by.get("stage_end", [])}
        self.tasks = {}
        for t in by.get("task", []):
            self.tasks.setdefault(t["stage"], []).append(t)
        self.blocks = by.get("block", [])
        self.jobs = []
        for j in by.get("job_start", []):
            end = ends.get(j["job"], {}).get("t", j["t"])
            op, phase = locate(j["t"], ops)
            self.jobs.append(dict(j, end=end, op=op, phase=phase,
                                  module=attribute(j, sql_frames, fmods, op)))

    def job_tasks(self, job):
        return [t for s in job["stages"] for t in self.tasks.get(s, [])]

    def stage_spans(self, job):
        """(duration ms, [task ms]) per stage attempt of the job."""
        out = []
        for (s, a), e in self.stage_end.items():
            if s in job["stages"]:
                start = self.submit.get((s, a), e["t"])
                out.append((e["t"] - start,
                            [t["finish"] - t["launch"] for t in self.tasks.get(s, [])]))
        return out

    def task_wait_ms(self, job):
        first = {}
        for (s, a), t in self.submit.items():
            if s in job["stages"]:
                first[s] = min(first.get(s, t), t)
        return sum(max(0, t["launch"] - first.get(t["stage"], t["launch"]))
                   for t in self.job_tasks(job))


def task_ms(tasks):
    return sum(t["finish"] - t["launch"] for t in tasks)


def registry_pass_layers(ops, resolves, trace, cores):
    """Per-layer figures of one traced pass of a registry workload."""
    m = {}
    jobs = [j for j in trace.jobs if j["op"] is not None]
    by_phase = {p: [j for j in jobs if j["phase"] == i] for i, p in enumerate(PHASES)}
    for i, p in enumerate(PHASES):
        m[f"{p}_s"] = sum(o["phases_s"][i] for o in ops if len(o["phases_s"]) > i)
    b = by_phase["build"]
    m["build.jobs"] = len(b)
    m["build.task_s"] = sum(task_ms(trace.job_tasks(j)) for j in b) / 1e3
    m["build.busy_frac"] = busy_frac(m["build.task_s"], m["build_s"], cores)
    m["build.driver_gap_s"] = sum(
        driver_gap_s(o["t0"], o["marks"][0],
                     [(j["t"], j["end"]) for j in b if j["op"] is o])
        for o in ops if o["marks"])
    m["build.unattributed_jobs"] = sum(1 for j in b if j["module"] is None)
    m["plan.exchanges"] = sum(max(0, o.get("exchanges", 0)) for o in ops)
    m["plan.jobs"] = len(by_phase["plan"])
    e = by_phase["exec"]
    etasks = [t for j in e for t in trace.job_tasks(j)]
    m["exec.jobs"] = len(e)
    m["exec.stages"] = sum(len(trace.stage_spans(j)) for j in e)
    m["exec.tasks"] = len(etasks)
    m["exec.task_s"] = task_ms(etasks) / 1e3
    m["exec.busy_frac"] = busy_frac(m["exec.task_s"], m["exec_s"], cores)
    m["exec.task_wait_s"] = sum(trace.task_wait_ms(j) for j in e) / 1e3
    ratios = [straggler_ratio([s for j in e if j["op"] is o for s in trace.stage_spans(j)])
              for o in ops]
    m["exec.straggler_ratio"] = median(ratios) if ratios else 1.0
    m["exec.shuffle_read_mb"] = sum(t["shuffle_read"] for t in etasks) / MB
    m["exec.shuffle_write_mb"] = sum(t["shuffle_write"] for t in etasks) / MB
    m["exec.spill_mb"] = sum(t["spill"] for t in etasks) / MB
    m["tasks_failed"] = sum(1 for j in jobs for t in trace.job_tasks(j) if not t["ok"])
    m["core.Tables.resolve_s"] = sum(r["s"] for r in resolves)
    module_jobs(m, jobs)
    return m


def module_jobs(m, jobs):
    """<module>.jobs and .job_s over the pass's jobs, by attribution."""
    for mod in MODULES:
        js = [j for j in jobs if j["module"] == mod]
        m[f"{mod}.jobs"] = len(js)
        m[f"{mod}.job_s"] = sum(j["end"] - j["t"] for j in js) / 1e3
    m["other_modules.jobs"] = sum(1 for j in jobs if j["module"] not in MODULES + [None])
    m["unattributed.jobs"] = sum(1 for j in jobs if j["module"] is None)


def flight_pass_layers(ops, trace):
    """Per-layer figures of one traced pass of the flight workload."""
    m = {}
    for s in FLIGHT_STAGES:
        m[f"mlx.{s}_s"] = sum(o["total_s"] for o in ops if o["name"] == s)
    jobs = [j for j in trace.jobs if j["op"] is not None]
    m["mlx.train.jobs"] = sum(1 for j in jobs if j["op"]["name"] == "train")
    lo = min(o["t0"] for o in ops)
    hi = max(o["marks"][-1] for o in ops if o["marks"])
    live, peak = {}, 0
    for b in sorted(trace.blocks, key=lambda b: b["t"]):
        if lo <= b["t"] <= hi:
            live[b["id"]] = b["bytes"]
            peak = max(peak, sum(live.values()))
    m["mlx.cache_mb"] = peak / MB
    m["tasks_failed"] = sum(1 for j in jobs for t in trace.job_tasks(j) if not t["ok"])
    module_jobs(m, jobs)
    return m
