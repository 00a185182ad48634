"""Engine benchmark: one workload, one process, one JSON result line.

    python3 perfbench/run.py --workload frontier_backlog --seed 1 \
        --seconds 10 --trace 0

Run from the repository root. The process starts one Spark session at
``local[$(nproc)]`` and drives the workload as a closed loop: each timed
unit (a crawl round or an image pass) starts when the previous one
returns. ``--trace 0`` prints the end-to-end metrics; ``--trace 1`` wraps
the engine's public calls in spans, reads the Spark status store after
every unit and prints the per-layer metrics instead. ``--size tiny`` is
the self-test's scale. Everything the run writes lives under
``.perfbench/`` in the working directory and is removed at exit.
See ``perfbench/README.md``.
"""

from __future__ import annotations

import time

T_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import uuid  # noqa: E402
from concurrent.futures import ThreadPoolExecutor  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "items_per_s": "1/s",
    "peak_rss_mb": "MB",
    "round_s_max": "s",
}

# lake tables and the commit op each one takes in a round
LAKE_OPS = [
    ("frontier", "overwrite"),
    ("seen", "append"),
    ("fetch_log", "append"),
    ("phash_seen", "append"),
    ("bloom", "overwrite"),
    ("metrics", "append_local"),
    ("lineage", "append_local"),
]
COMMIT_OPS = ("append", "overwrite", "append_local", "overwrite_local")

PER_LAYER = {
    "session.start_s": "s",
    "round.jobs": "count",
    "round.tasks": "count",
    "round.self_s": "s",
    "round.driver_s": "s",
    **{f"lake.{t}.{op}.busy_s": "s" for t, op in LAKE_OPS},
    "lake.read.busy_s": "s",
    "lake.commits": "count",
    "lake.bytes_written_mb": "MB",
    "membership.flush_s": "s",
    "membership.negative_frac": "ratio",
    "membership.fp_rate": "ratio",
    "schedule.exec_run_s": "s",
    "schedule.exec_cpu_s": "s",
    "schedule.shuffle_mb": "MB",
    "schedule.spill_mb": "MB",
    "dedupe.dup_frac": "ratio",
    "politeness.selected": "count",
    "fetch.exec_run_s": "s",
    "fetch.ok_frac": "ratio",
    "counters.exec_run_s": "s",
    "phash_table.busy_s": "s",
    "phash_table.rows": "count",
    "phash_table.decode_errors": "count",
    "pairs.count": "count",
    "components.busy_s": "s",
    "components.jobs": "count",
    "gc_s": "s",
    "shuffle_read_mb": "MB",
    "shuffle_write_mb": "MB",
    "spill_mb": "MB",
    "host.foreign_cpu_cores": "cores",
    "trace.pass_s": "s",
}

# untraced executions of a crawl round, by Spark call site and order:
# the eager checkpoints of ``selected`` and ``fetched``, then the
# counters collect
ROUND_ROLES = {"localCheckpoint": ["schedule", "fetch"], "collect": ["counters"]}


def _dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(d, f))
            except OSError:
                pass
    return total


def _ratio(a: float, b: float) -> float:
    return a / b if b else 0.0


def layer_metrics(u: dict, stats: dict, extra: dict) -> dict[str, float]:
    """Per-layer metrics of one unit from its trace analysis ``u``, the
    engine's returned counters ``stats`` and unit-side counts ``extra``."""
    busy, calls, st = u["busy"], u["calls"], u["stages"]
    zero = dict.fromkeys(("run_s", "cpu_s", "shuffle_read_mb", "shuffle_write_mb", "spill_mb"), 0.0)
    sched, fetch, counters = (st.get(k, zero) for k in ("schedule", "fetch", "counters"))
    neg, pos = stats.get("rows_tier_negative", 0), stats.get("rows_tier_positive", 0)
    m = {
        "round.jobs": u["jobs"],
        "round.tasks": u["tasks"],
        "round.self_s": u["self_s"],
        "round.driver_s": u["driver_s"],
        **{f"lake.{t}.{op}.busy_s": busy.get(f"lake.{t}.{op}", 0.0) for t, op in LAKE_OPS},
        "lake.read.busy_s": sum(v for k, v in busy.items()
                                if k.startswith("lake.") and k.endswith(".read")),
        "lake.commits": sum(v for k, v in calls.items()
                            if k.startswith("lake.") and k.rsplit(".", 1)[1] in COMMIT_OPS),
        "lake.bytes_written_mb": extra.get("bytes_written", 0) / 2**20,
        "membership.flush_s": busy.get("membership.end_round", 0.0),
        "membership.negative_frac": _ratio(neg, neg + pos),
        "membership.fp_rate": _ratio(stats.get("rows_tier_fp", 0), pos),
        "schedule.exec_run_s": sched["run_s"],
        "schedule.exec_cpu_s": sched["cpu_s"],
        "schedule.shuffle_mb": sched["shuffle_read_mb"] + sched["shuffle_write_mb"],
        "schedule.spill_mb": sched["spill_mb"],
        "dedupe.dup_frac": _ratio(stats.get("rows_deduped", 0), stats.get("rows_in", 0)),
        "politeness.selected": stats.get("rows_selected", 0),
        "fetch.exec_run_s": fetch["run_s"],
        "fetch.ok_frac": _ratio(stats.get("rows_fetched_ok", 0), stats.get("rows_selected", 0)),
        "counters.exec_run_s": counters["run_s"],
        "phash_table.busy_s": busy.get("phash_table", 0.0),
        "phash_table.rows": extra.get("phash_rows", 0),
        "phash_table.decode_errors": extra.get("decode_errors", 0),
        "pairs.count": extra.get("pairs", 0),
        "components.busy_s": busy.get("components", 0.0),
        "components.jobs": u["layer_jobs"].get("components", 0),
        "gc_s": u["total"]["gc_s"],
        "shuffle_read_mb": u["total"]["shuffle_read_mb"],
        "shuffle_write_mb": u["total"]["shuffle_write_mb"],
        "spill_mb": u["total"]["spill_mb"],
    }
    return m


def image_counts(tracer) -> dict:
    """Counts behind the image pass, taken from the frames its stages
    returned or were given (read after the timed unit)."""
    from pyspark.sql import functions as F

    out = {}
    if "phash_table" in tracer.captured:
        ph = tracer.captured["phash_table"][1]
        r = ph.agg(F.count("*").alias("n"),
                   F.sum(F.col("phash").isNull().cast("int")).alias("bad")).collect()[0]
        out["phash_rows"], out["decode_errors"] = r.n, r.bad or 0
    if "components" in tracer.captured:
        out["pairs"] = tracer.captured["components"][0][0].count()
    tracer.captured.clear()
    return out


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="minimum length of the timed pass")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full")
    return ap.parse_args(argv)


def _environment(workdir: str) -> None:
    """Pin the session to this host before the JVM starts: local[nproc],
    a bounded driver heap, scratch and temp dirs inside ``workdir`` and a
    PYTHONPATH that lets Python workers import the package."""
    cpus = len(os.sched_getaffinity(0))
    for sub in ("spark-local", "tmp"):
        os.makedirs(os.path.join(workdir, sub), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "spark-local")
    os.environ["TMPDIR"] = os.path.join(workdir, "tmp")
    # every JVM of the tree (launcher and driver): temp files in the run's
    # directory, and no hsperfdata file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}"
    )
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    import tempfile

    tempfile.tempdir = os.environ["TMPDIR"]


def run(args) -> dict:
    sys.path.insert(0, ROOT)
    try:
        import web_crawler_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine package is not importable here: {e}",
              file=sys.stderr)
        sys.exit(2)
    from perfbench import spans as tr
    from perfbench.workloads import SIZES, WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        sys.exit(2)
    workdir = os.path.join(os.getcwd(), ".perfbench", f"{args.workload}-{uuid.uuid4().hex[:8]}")
    _environment(workdir)
    cfg = SIZES[args.workload][args.size]
    cls = WORKLOADS[args.workload]
    tracer = tr.Tracer()
    if args.trace:
        tr.install_engine_spans(tracer)
    spark = wl = None
    session_s = setup_s = foreign_cores = 0.0
    attempted = failed = 0
    errors: list[str] = []
    timed: list[dict] = []
    walls: list[float] = []
    unit_cpu: list[float] = []
    unit_steal: list[float] = []
    layer_rows: list[dict] = []
    phases: dict[str, float] = {}
    pool = ThreadPoolExecutor(1)
    try:
        with tr.MemSampler() as mem:
            from web_crawler_spark.session import get_spark

            # inputs that need no Spark are written while the JVM starts
            made = pool.submit(getattr(cls, "make_inputs", lambda *a: None),
                               workdir, args.seed, args.size)
            with tracer.span("get_spark"):
                spark = get_spark("perfbench")
            session_s = tracer.spans[-1].end - tracer.spans[-1].start
            sc = spark.sparkContext
            if args.trace:
                tracer.sc = sc
            wl = cls(spark, workdir, args.seed, args.size)
            t = time.time()
            made.result()
            phases["inputs_wait_s"] = time.time() - t
            t = time.time()
            wl.setup()
            phases["inputs_and_start_s"] = time.time() - t
            lake_dir = getattr(wl, "run", None) and wl.run.run_dir
            prepare = getattr(wl, "prepare", lambda i: None)
            for i in range(cfg["warmup"]):
                attempted += 1
                prepare(i)
                t = time.time()
                stats = wl.unit(i)
                phases[f"warmup{i}_s"] = time.time() - t
                errs = wl.check_unit(stats)
                failed += bool(errs)
                errors += errs
            setup_s = time.time() - T_START

            b0, o0, t0 = tr.total_busy_jiffies(), tr.own_tree_jiffies(), time.time()
            i = cfg["warmup"]
            while len(walls) < cfg["timed"] or sum(walls) < args.seconds:
                attempted += 1
                prepare(i)
                if args.trace:
                    tr.drain_listener(sc)
                    last_job = max((j.id for j in tr.jobs_after(sc, -1)), default=-1)
                    size0 = _dir_bytes(lake_dir) if lake_dir else 0
                    with tracer.span("unit"):
                        stats = wl.unit(i)
                    unit = tracer.spans[-1]
                    walls.append(unit.end - unit.start)
                    tr.drain_listener(sc)
                    u = tr.unit_layers(sc, tracer, unit, tr.jobs_after(sc, last_job),
                                       ROUND_ROLES if lake_dir else {})
                    extra = image_counts(tracer)
                    if lake_dir:
                        extra["bytes_written"] = _dir_bytes(lake_dir) - size0
                    layer_rows.append(layer_metrics(u, stats, extra) | {
                        "_reconcile_err": u["reconcile_err"],
                        "_children_sum_s": u["children_sum_s"]})
                else:
                    c0, s0, ts = tr.own_tree_jiffies(), tr.steal_jiffies(), time.time()
                    stats = wl.unit(i)
                    walls.append(time.time() - ts)
                    unit_cpu.append((tr.own_tree_jiffies() - c0) / os.sysconf("SC_CLK_TCK"))
                    unit_steal.append((tr.steal_jiffies() - s0) / os.sysconf("SC_CLK_TCK"))
                timed.append(stats)
                errs = wl.check_unit(stats)
                failed += bool(errs)
                errors += errs
                i += 1
            hz = os.sysconf("SC_CLK_TCK")
            foreign = ((tr.total_busy_jiffies() - b0) - (tr.own_tree_jiffies() - o0)) / hz
            foreign_cores = max(0.0, foreign / max(time.time() - t0, 1e-9))
            end_errs = wl.check_end()
            if end_errs:
                failed += 1
                errors += end_errs
            info = wl.info(timed)
    except Exception as e:  # an operation that raised counts as failed
        import traceback

        traceback.print_exc()
        failed += 1
        errors.append(f"{type(e).__name__}: {e}")
        attempted = max(attempted, 1)
        info = {}
    finally:
        pool.shutdown(wait=True)
        tracer.unwrap_all()
        if spark is not None:
            gateway = spark.sparkContext._gateway
            spark.stop()
            # the JVM (and the Python workers under it) exits when its
            # stdin closes; wait for the whole tree before leaving
            gateway.shutdown()
            gateway.proc.stdin.close()
            tr.stop_tree()
        shutil.rmtree(workdir, ignore_errors=True)

    for e in errors:
        print(f"perfbench: check failed: {e}", file=sys.stderr)
    pass_s = sum(walls)
    # a round index timed more than once counts with its median; image
    # passes have no round and count as one index
    by_round: dict[int, list[float]] = {}
    for stats, wall in zip(timed, walls):
        by_round.setdefault(stats.get("round", 0), []).append(wall)
    items = sum(wl.items(s) for s in timed) if timed else 0
    if args.trace:
        metrics = {k: statistics.median(r[k] for r in layer_rows) for k in layer_rows[0]
                   if not k.startswith("_")} if layer_rows else {}
        metrics.update({"session.start_s": session_s,
                        "host.foreign_cpu_cores": foreign_cores,
                        "trace.pass_s": pass_s})
        info["reconcile_err_max"] = max((r["_reconcile_err"] for r in layer_rows), default=0.0)
        info["children_sum_s"] = [r["_children_sum_s"] for r in layer_rows]
        info["round_self_s"] = [r["round.self_s"] for r in layer_rows]
        units = PER_LAYER
    else:
        metrics = {
            "setup_s": setup_s,
            "pass_s": pass_s,
            "items_per_s": items / pass_s if pass_s else 0.0,
            "peak_rss_mb": mem.peak_mb if timed else 0.0,
            "round_s_max": max((statistics.median(v) for v in by_round.values()), default=0.0),
        }
        units = END_TO_END
    info["unit_s"] = walls
    if unit_cpu:
        info["unit_cpu_s"] = unit_cpu
        info["unit_steal_s"] = unit_steal
    info["setup_phases_s"] = phases | {"session_s": session_s} | getattr(wl, "phases", {})
    info["foreign_cpu_cores"] = foreign_cores
    print(json.dumps({"info": info}, default=str))
    return {
        "correct": failed == 0 and bool(timed),
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(metrics.get(k, 0.0)), "unit": u} for k, u in units.items()},
    }


def main(argv=None) -> int:
    args = parse_args(sys.argv[1:] if argv is None else argv)
    result = run(args)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
