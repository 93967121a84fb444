"""Geospatial pipeline benchmark for dask_geopandas_spark.

Usage, from the root of a source checkout (any working directory works):

    python3 geobench/run.py --workload points --seed 1 --seconds 10 --trace 0

A workload is two of the pipelines in ``workloads.py``: ``points`` runs
``layout_scan`` then ``pip_join``, ``polygons`` runs ``polygon_map`` then
``polygon_boolean``.  The run generates their GeoParquet inputs from the
seed (cached under ``.geobench/inputs``), starts ``local[N]`` Spark with
N = the usable cores, and runs the pipelines in a closed loop with one
client until ``--seconds`` have passed; every run is checked against the
generator's reference answers.  A metric table goes to stdout, and the
last line on stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.

``--trace 0`` reports the end-to-end metrics.  ``setup_s`` is measured
once, from the driver's import of pyspark and the engine through the JVM
launch to the end of the session's first job, which starts a Python
worker; input generation is not part of it.  ``--trace 1`` first times
untraced runs, then restarts Spark with its event log on and runs each
pipeline's prefixes under spans; it reports the per-layer metrics (0 for
a layer the workload does not exercise), among them the time of that
session restart in the running JVM (``setup.warm_restart_s``), and writes
the spans to ``.geobench/traces/<workload>-seed<n>.json``.

Exits non-zero without a result when the engine's sources are missing or
set-up fails.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".geobench")
# Untimed runs after set-up: the JIT and the Python workers are still
# warming up during them (after only one, the first timed run was 10-15 %
# slower than the rest).
WARMUPS = 2
# Timed runs made even when ``--seconds`` is already used up.
MIN_RUNS = 3

END_TO_END = {
    "setup_s": "s", "wall_s": "s", "rows_per_s": "1/s", "peak_rss_mb": "MB",
}
PER_LAYER = {
    "sources.footer_s": "s", "sources.rows_scanned_per_row_returned": "ratio",
    "sources.scan_s": "s", "sources.scan_tasks": "count",
    "sources.input_bytes": "bytes", "sources.write_s": "s",
    "sources.bytes_written": "bytes", "sources.files_written": "count",
    "wkb.decode_points_per_s": "1/s", "wkb.decode_polygons_per_s": "1/s",
    "wkb.encode_rows_per_s": "1/s", "algorithms.pip_pairs_per_s": "1/s",
    "algorithms.area_rows_per_s": "1/s", "validity.rows_per_s": "1/s",
    "core.mercator_coords_per_s": "1/s", "curves.hilbert_keys_per_s": "1/s",
    "booleans.overlay_pairs_per_s": "1/s", "booleans.buffer_s_per_poly": "s",
    "dissolve.union_rows_per_s": "1/s",
    "functions.udf_stage_s": "s", "functions.udf_overhead_ratio": "ratio",
    "core.with_bbox_s": "s", "core.to_crs_s": "s",
    "core.spatial_shuffle_s": "s", "core.shuffle_bytes": "bytes",
    "core.partition_skew": "ratio",
    "sjoin.candidate_pairs": "count", "sjoin.result_pairs": "count",
    "sjoin.refine_hit_ratio": "ratio", "sjoin.candidate_s": "s",
    "sjoin.refine_s": "s", "sjoin.shuffle_bytes": "bytes",
    "overlay.candidate_pairs": "count", "overlay.pieces": "count",
    "overlay.hit_ratio": "ratio", "overlay.s": "s",
    "dissolve.s": "s", "dissolve.groups": "count",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.task_busy_ratio": "ratio", "spark.executor_cpu_s": "s",
    "spark.gc_s": "s", "spark.spill_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "setup.warm_restart_s": "s",
    "trace.overhead_ratio": "ratio",
    # end-to-end figures that exist on some workloads only, or are 0 when
    # all is well, so they cannot be bounded end-to-end metrics
    "error_rate": "ratio", "write_s": "s", "query_p50_s": "s",
    "query_p90_s": "s", "stored_bytes_ratio": "ratio",
}


def parse_args():
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args()


# ----------------------------------------------------------------------
# processes

def _stat(pid: str):
    """(ppid, rss pages) of one process, or None once it is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            rest = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None
    return int(rest[1]), int(rest[21])


def process_tree(root: int) -> dict:
    """pid -> rss pages for ``root`` and all its descendants."""
    stats = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit() and (s := _stat(pid)) is not None:
            stats[int(pid)] = s
    tree, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in stats and pid not in tree:
            tree[pid] = stats[pid][1]
            todo.extend(c for c, (pp, _) in stats.items() if pp == pid)
    return tree


class RssSampler(threading.Thread):
    """Peak summed RSS of the JVM and its Python workers, sampled every
    0.1 s while the pipeline runs."""

    def __init__(self, root_pid: int):
        super().__init__(daemon=True)
        self.root, self.peak = root_pid, 0
        self._halt = threading.Event()

    def run(self):
        page = os.sysconf("SC_PAGE_SIZE")
        while not self._halt.wait(0.1):
            self.peak = max(self.peak, sum(process_tree(self.root).values()) * page)

    def stop(self) -> float:
        self._halt.set()
        self.join()
        return self.peak / 2**20


class Spark:
    """The Spark sessions of one invocation, all in one JVM that
    ``shutdown`` stops and waits for, together with its Python workers."""

    def __init__(self, work: str, cores: int):
        self.work, self.cores = work, cores
        self.session = None
        self.events = os.path.join(work, "events")

    def start(self, event_log: bool = False):
        from pyspark import SparkConf
        from pyspark.sql import SparkSession

        tmp = os.path.join(self.work, "tmp")
        conf = SparkConf().setAll([
            ("spark.master", f"local[{self.cores}]"),
            ("spark.app.name", "geobench"),
            ("spark.ui.enabled", "false"),
            ("spark.ui.showConsoleProgress", "false"),
            ("spark.sql.shuffle.partitions", str(self.cores)),
            ("spark.local.dir", os.path.join(self.work, "spark")),
            ("spark.sql.warehouse.dir", os.path.join(self.work, "warehouse")),
            ("spark.driver.extraJavaOptions", f"-Dderby.system.home={tmp}"),
            ("spark.eventLog.enabled", str(event_log).lower()),
            ("spark.eventLog.dir", "file://" + self.events),
            ("spark.eventLog.compress", "false"),
            ("spark.eventLog.rolling.enabled", "false"),
        ])
        if event_log:
            os.makedirs(self.events, exist_ok=True)
        self.session = SparkSession.builder.config(conf=conf).getOrCreate()
        self.session.sparkContext.setLogLevel("ERROR")
        return self.session

    def stop(self):
        if self.session is not None:
            self.session.stop()
            self.session = None

    @property
    def jvm_pid(self) -> int:
        from pyspark import SparkContext

        return SparkContext._gateway.proc.pid

    def shutdown(self):
        from pyspark import SparkContext

        gw = SparkContext._gateway
        if gw is None:
            return
        pids = set(process_tree(gw.proc.pid))
        self.stop()
        gw.shutdown()
        # the JVM exits when its stdin closes
        gw.proc.stdin.close()
        gw.proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None
        deadline = time.monotonic() + 60
        while any(_stat(str(p)) is not None for p in pids):
            if time.monotonic() > deadline:
                raise RuntimeError(f"Spark processes still running: {pids}")
            time.sleep(0.05)


# ----------------------------------------------------------------------
# measuring

def start_and_warm_up(sp: Spark, inputs: dict, event_log: bool = False):
    """Start a session and run its first job: read the first input layer
    and run one geometry UDF over its first rows, which starts a Python
    worker and imports the engine there.  Returns (session, seconds)."""
    import dask_geopandas_spark as dgs
    from dask_geopandas_spark.functions import core as FX
    from pyspark.sql import functions as F

    t0 = time.perf_counter()
    spark = sp.start(event_log)
    layer = sorted(d for d in os.listdir(inputs["dir"])
                   if os.path.isdir(os.path.join(inputs["dir"], d)))[0]
    g = dgs.read_parquet(spark, os.path.join(inputs["dir"], layer))
    g.df.limit(1000).select(F.sum(FX.st_area(g.geometry))).collect()
    return spark, time.perf_counter() - t0


def run_checked(pipe, ctx, k: int):
    from workloads import Outcome

    try:
        return pipe.run(ctx, k)
    except Exception:
        traceback.print_exc(file=sys.stderr)
        return Outcome(1, 1)


def timed_runs(pipes, ctxs, seconds: float):
    """Closed loop, one client: run the workload's pipelines one after the
    other until ``seconds`` have passed (and at least ``MIN_RUNS`` times,
    unless that takes three times as long).  Returns per-run times,
    per-pipeline times and outcomes."""
    times, per_pipe, outcomes = [], {p.name: [] for p in pipes}, []
    t_start = time.perf_counter()
    while True:
        elapsed = time.perf_counter() - t_start
        if elapsed >= seconds and (len(times) >= MIN_RUNS or elapsed >= 3 * seconds):
            return times, per_pipe, outcomes
        t0 = time.perf_counter()
        for pipe, ctx in zip(pipes, ctxs):
            t1 = time.perf_counter()
            outcomes.append(run_checked(pipe, ctx, len(times)))
            per_pipe[pipe.name].append(time.perf_counter() - t1)
        times.append(time.perf_counter() - t0)


def contexts(pipes, inputs: dict, spark, tracer, work: str) -> list:
    from workloads import Ctx

    return [Ctx(spark, tracer, inputs[p.name], os.path.join(work, "out"))
            for p in pipes]


def untraced(pipes, sp: Spark, inputs: dict, seconds: float):
    """Launch the JVM and set up the first session, run every pipeline
    ``WARMUPS`` times untimed, then time runs for ``seconds``.  Returns
    (set-up seconds, run times, per-pipeline run times, warm-up outcomes,
    timed outcomes, peak RSS in MB)."""
    from spans import Tracer

    spark, setup = start_and_warm_up(sp, inputs[pipes[0].name])
    ctxs = contexts(pipes, inputs, spark, Tracer(spark.sparkContext, "", False),
                    sp.work)
    first = [run_checked(p, c, k) for k in range(WARMUPS)
             for p, c in zip(pipes, ctxs)]
    rss = RssSampler(sp.jvm_pid)
    rss.start()
    times, per_pipe, outcomes = timed_runs(pipes, ctxs, seconds)
    return setup, times, per_pipe, first, outcomes, rss.stop()


def e2e_extras(timed: list, every: list) -> dict:
    """End-to-end figures that only the layout_scan pipeline has, from the
    timed runs, and the error rate of every run."""
    out = {}
    infos = [o.info for o in timed if "write_s" in o.info]
    if infos:
        lat = [q for i in infos for q in i["query_s"]]
        out = {"write_s": statistics.median(i["write_s"] for i in infos),
               "query_p50_s": statistics.median(lat),
               "query_p90_s": statistics.quantiles(lat, n=10)[-1],
               "stored_bytes_ratio": statistics.median(
                   i["stored_ratio"] for i in infos)}
    out["error_rate"] = (sum(o.failed for o in every)
                         / sum(o.attempted for o in every))
    return out


def prefix_stats(spans: list, groups: dict, reps: list, values: dict,
                 pipe: str, stages: list) -> dict:
    """Per traced prefix: median duration ``s``, ``self_s`` (the difference
    to the previous prefix, floored at 0), median task counters, the last
    returned ``value``, and the last repetition's child spans summed by
    name under ``span:<name>``."""
    import spans as T

    p, prev = {}, 0.0
    for name, _ in stages:
        ids = [r[(pipe, name)] for r in reps]
        cs = [T.span_counters(spans, groups, i) for i in ids]
        d = {k: statistics.median(c[k] for c in cs) for k in cs[0]}
        d["s"] = statistics.median(spans[i]["end"] - spans[i]["start"] for i in ids)
        d["self_s"] = max(d["s"] - prev, 0.0)
        d["value"] = values[(pipe, name)]
        prev = d["s"]
        for s in spans:
            if s["id"] != ids[-1] and _under(spans, s["id"], ids[-1]):
                c = d.setdefault(f"span:{s['name']}", {"s": 0.0, **T.ZERO})
                c["s"] += s["end"] - s["start"]
                for k, v in groups.get(s["group"], {}).items():
                    c[k] += v
        p[name] = d
    return p


def _under(spans: list, sid, root: int) -> bool:
    while sid is not None:
        if sid == root:
            return True
        sid = spans[sid]["parent"]
    return False


def traced(pipes, sp: Spark, inputs: dict, seconds: float, trace_path: str):
    """Per-layer metrics: untraced runs for the baseline, then every
    pipeline's staged prefixes under spans, in a session with Spark's
    event log on, then in-process kernel rates.  A pipeline whose traced
    stage raises counts as one failed run and reports no layer figures."""
    from workloads import Outcome
    import spans as T

    _, base, _, first, timed, rss = untraced(pipes, sp, inputs, seconds / 2)
    outcomes = first + timed
    wall = statistics.median(base)
    sp.stop()
    spark, restart_s = start_and_warm_up(sp, inputs[pipes[0].name],
                                         event_log=True)
    tr = T.Tracer(spark.sparkContext, str(os.getpid()), False)
    ctxs = contexts(pipes, inputs, spark, tr, sp.work)
    outcomes += [run_checked(p, c, k) for k in range(WARMUPS)
                 for p, c in zip(pipes, ctxs)]
    tr.enabled = True
    stages = [pipe.stages(ctx) for pipe, ctx in zip(pipes, ctxs)]
    reps, values, broken = [], {}, set()
    t_end = time.perf_counter() + seconds / 2
    while not reps or time.perf_counter() < t_end:
        rep = {}
        for pipe, st in zip(pipes, stages):
            if pipe.name in broken:
                continue
            for name, fn in st:
                with tr.span(f"{pipe.name}:{name}") as s:
                    try:
                        values[(pipe.name, name)] = fn()
                    except Exception:
                        traceback.print_exc(file=sys.stderr)
                        broken.add(pipe.name)
                        outcomes.append(Outcome(1, 1))
                        break
                rep[(pipe.name, name)] = s["id"]
            else:
                outcomes.append(values[(pipe.name, "full")])
        reps.append(rep)
    sp.stop()  # flushes the event log
    tr.dump(trace_path)

    with open(trace_path) as f:
        spans = json.load(f)
    groups = T.group_counters(sp.events)
    m, seen = dict.fromkeys(PER_LAYER, 0.0), set()

    def add(new: dict):
        # a layer both pipelines exercise: times, counts and bytes add up
        # over the workload's run; rates and ratios are averaged
        for k, v in new.items():
            if k not in seen:
                m[k] = v
            elif PER_LAYER[k] in ("s", "count", "bytes"):
                m[k] += v
            else:
                m[k] = (m[k] + v) / 2
            seen.add(k)

    full_s = run_s = 0.0
    for pipe, ctx, st in zip(pipes, ctxs, stages):
        if pipe.name in broken:
            print(f"# {pipe.name}: a traced stage failed, no layer figures",
                  file=sys.stderr)
            continue
        p = prefix_stats(spans, groups, reps, values, pipe.name, st)
        for name, d in p.items():
            print(f"# {pipe.name}:{name} {d['s']:.3f} s, self {d['self_s']:.3f} s, "
                  f"{d['tasks']} tasks", file=sys.stderr)
        full, scan = p["full"], p["sources.scan"]
        full_s += full["s"]
        run_s += full["run_s"]
        # Spark's input metrics undercount parquet bytes, and every scan
        # reads its files whole, so the input size is the file size
        add({"sources.scan_s": scan["s"], "sources.scan_tasks": scan["tasks"],
             "sources.input_bytes": ctx.input_bytes,
             "spark.jobs": full["jobs"], "spark.stages": full["stages"],
             "spark.tasks": full["tasks"], "spark.executor_cpu_s": full["cpu_s"],
             "spark.gc_s": full["gc_s"], "spark.spill_bytes": full["spill_bytes"],
             "spark.shuffle_write_bytes": full["shuffle_write_bytes"]})
        add(pipe.layers(ctx, p))
    if full_s:
        m["spark.task_busy_ratio"] = run_s / (full_s * sp.cores)
        m["trace.overhead_ratio"] = full_s / wall
    m["setup.warm_restart_s"] = restart_s
    m.update(e2e_extras(timed, outcomes))
    print(f"# untraced wall {wall:.3f} s over {len(base)} runs, peak rss "
          f"{rss:.0f} MB, {len(reps)} traced repetitions", file=sys.stderr)
    return m, outcomes


def clean_stale() -> None:
    """Remove run directories, and half-generated inputs, left by
    invocations that were killed: a partial dataset must never be read."""
    for parent in (STATE, os.path.join(STATE, "inputs")):
        if not os.path.isdir(parent):
            continue
        for d in os.listdir(parent):
            pid = (d.split("-")[1] if d.startswith("run-")
                   else d.rpartition(".tmp")[2] if ".tmp" in d else "")
            if pid.isdigit() and _stat(pid) is None:
                shutil.rmtree(os.path.join(parent, d), ignore_errors=True)


def main() -> int:
    a = parse_args()
    if not os.path.isfile(os.path.join(ROOT, "dask_geopandas_spark", "__init__.py")):
        print(f"dask_geopandas_spark sources not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import gen
    # driver-side imports of pyspark and the engine are part of set-up
    t0 = time.perf_counter()
    from workloads import WORKLOADS
    import_s = time.perf_counter() - t0

    if a.workload not in WORKLOADS:
        print(f"unknown workload {a.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    pipes = WORKLOADS[a.workload]
    clean_stale()
    work = os.path.join(STATE, f"run-{os.getpid()}-{time.time_ns()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update({
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(
            [ROOT] + [p for p in [os.environ.get("PYTHONPATH")] if p]),
        "TMPDIR": tmp,
        # every JVM Spark starts (its launcher too) keeps its temporary
        # files inside the run directory
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    })
    sp = Spark(work, len(os.sched_getaffinity(0)))
    table = []
    try:
        inputs = {}
        for pipe in pipes:
            inp = gen.inputs(os.path.join(STATE, "inputs"), pipe.name, a.seed,
                             pipe.size)
            print(f"# {pipe.name} seed {a.seed}: {inp['rows']} rows, "
                  f"{inp['input_bytes']} bytes, generated in {inp['gen_s']:.2f} s",
                  file=sys.stderr)
            inputs[pipe.name] = inp
        if a.trace:
            os.makedirs(os.path.join(STATE, "traces"), exist_ok=True)
            metrics, outcomes = traced(
                pipes, sp, inputs, a.seconds, os.path.join(
                    STATE, "traces", f"{a.workload}-seed{a.seed}.json"))
            units = PER_LAYER
        else:
            setup, times, per_pipe, first, timed, rss = untraced(
                pipes, sp, inputs, a.seconds)
            outcomes = first + timed
            wall = statistics.median(times)
            rows = sum(inp["rows"] for inp in inputs.values())
            metrics = {"setup_s": import_s + setup, "wall_s": wall,
                       "rows_per_s": rows / wall, "peak_rss_mb": rss}
            units = END_TO_END
            table = [(f"{name}.wall_s", statistics.median(ts), "s")
                     for name, ts in per_pipe.items()]
            table += [(k, v, PER_LAYER[k])
                      for k, v in e2e_extras(timed, outcomes).items()]
            print(f"# imports {import_s:.2f} s, set-up {setup:.2f} s; timed runs "
                  + " ".join(f"{t:.2f}" for t in times) + " s", file=sys.stderr)
    finally:
        sp.shutdown()
        shutil.rmtree(work, ignore_errors=True)

    attempted = sum(o.attempted for o in outcomes)
    failed = sum(o.failed for o in outcomes)
    for k, v, unit in table + [(k, v, units[k]) for k, v in metrics.items()]:
        print(f"{a.workload}  {k:<40} {v:>16.6g} {unit}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed,
                      "metrics": {k: {"value": float(v), "unit": units[k]}
                                  for k, v in metrics.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
