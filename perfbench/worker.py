"""One benchmark run, in a process of its own (started by run.py).

    worker.py stage --workload W --seed N            build the pool if missing,
                                                     slice the seed's input
    worker.py run --workload W --seed N --seconds S --trace 0|1

`run` sets up SETUPS times (session start, reading the staged input,
per-corpus preparation), runs the first pass, then warm passes for S
seconds, checks every pass outside the timed section, and writes the
result JSON to $PERFBENCH_RESULT. With --trace 1 it adds one traced pass
and reports per-layer metrics from spans and the Spark event log.
"""

import time

T0 = time.time()  # process start, as seen by this interpreter

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

import spans as tr_mod  # noqa: E402
import workloads  # noqa: E402

SETUPS = 3  # setup_s is the median of this many set-ups in one run
DRIVER_MEM = "3g"  # default for SPARK_GRAFT_DRIVER_MEM on a 16 GB host
YOUNG_GEN = "768m"
RUNS_KEPT = 500  # run records kept in .cache/runs.jsonl

END_TO_END = {
    "items_per_s": "items/s",
    "first_pass_s": "s",
    "setup_s": "s",
    "cpu_us_per_item": "us/item",
    "peak_rss_mb": "MB",
    "ok_frac": "ratio",
}

PER_LAYER = {
    "session.start_s": "s",
    "geotag.wall_s": "s", "geotag.rows": "count", "geotag.tagged_ratio": "ratio",
    "spatial_join.cover_build_s": "s", "spatial_join.cover_cells": "count",
    "spatial_join.wall_s": "s", "spatial_join.candidates": "count",
    "spatial_join.refined": "count", "spatial_join.hit_ratio": "ratio",
    "spatial_join.task_skew": "ratio",
    "index.wall_s": "s",
    "sources.wall_s": "s", "sources.entities": "count",
    "sources.py_worker_s": "s", "sources.py_bytes": "bytes",
    "export.wall_s": "s", "export.jobs": "count", "export.rows_written": "count",
    "export.bytes_written": "bytes", "export.files_written": "count",
    "export.driver_gap_s": "s",
    "assembly.wall_s": "s", "assembly.polygons": "count",
    "assembly.py_worker_s": "s", "assembly.shuffle_bytes": "bytes",
    "lineage.wall_s": "s", "lineage.batches": "count", "lineage.jobs": "count",
    "lineage.driver_gap_s": "s",
    "codecs.png_us_per_image": "us/image", "codecs.dct_us_per_image": "us/image",
    "decode.wall_s": "s", "decode.images": "count",
    "decode.py_worker_s": "s", "decode.py_bytes": "bytes",
    "band_join.wall_s": "s", "band_join.candidates": "count",
    "band_join.pairs": "count", "band_join.precision": "ratio",
    "band_join.shuffle_bytes": "bytes",
    "cc.wall_s": "s", "cc.jobs": "count", "cc.components": "count",
    "cc.shuffle_bytes": "bytes", "cc.spill_bytes": "bytes",
    "pyramid.agg_wall_s": "s", "pyramid.tiles": "count", "pyramid.shuffle_bytes": "bytes",
    "engine.executor_cpu_s": "s", "engine.gc_s": "s", "engine.spill_bytes": "bytes",
    "engine.driver_gap_s": "s",
    "tracing.overhead_frac": "ratio",
}


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def start_session(tmp: str, trace: bool):
    from fs2_osm_spark.session import get_spark

    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", DRIVER_MEM)
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(tmp, "local"),
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        # a heap that starts at its maximum size, with a fixed young
        # generation, does not resize with GC timing; that keeps peak RSS
        # comparable between runs
        "spark.driver.extraJavaOptions": (
            f"-Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']} -Xmn{YOUNG_GEN}"
            f" -XX:-UsePerfData -Djava.io.tmpdir={tmp}"
        ),
    }
    if trace:
        ev = os.path.join(tmp, "eventlog")
        os.makedirs(ev, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + ev,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark(cores=nproc(), app_name="perfbench", extra_conf=conf)


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


class Passes:
    """Runs passes and records (wall, items, result, ok)."""

    def __init__(self, wl, spark, ctx):
        self.wl, self.spark, self.ctx = wl, spark, ctx
        self.done: list[dict] = []
        self.jvm = spark.sparkContext._gateway.proc.pid

    def _record(self, kind, wall, cpu, items, result) -> dict:
        rec = {"kind": kind, "wall": wall, "cpu": cpu, "items": items, "ok": False}
        if result is not None:
            try:
                rec["result"] = self.wl.finish_pass(self.spark, self.ctx, result)
            except Exception:  # noqa: BLE001 — a failed check is a failed pass
                traceback.print_exc()
        self.done.append(rec)
        log(f"{kind} pass {wall:.3f}s items={items}")
        return rec

    def _timed(self, kind: str, call):
        """(record, extra): `call` returns (items, result, extra); its wall
        time and the CPU time of the Spark JVM tree are recorded."""
        cpu0, t0 = tr_mod.tree_cpu_s(self.jvm), time.perf_counter()
        try:
            items, result, extra = call()
        except Exception:  # noqa: BLE001 — a raising pass is a failed pass
            traceback.print_exc()
            items, result, extra = 0, None, {}
        wall, cpu = time.perf_counter() - t0, tr_mod.tree_cpu_s(self.jvm) - cpu0
        return self._record(kind, wall, cpu, items, result), extra

    def run(self, kind: str) -> dict:
        return self._timed(kind, lambda: (*self.wl.run_pass(self.spark, self.ctx), None))[0]

    def run_traced(self, tracer) -> tuple[dict, dict]:
        return self._timed("traced", lambda: self.wl.traced_pass(self.spark, self.ctx, tracer))

    def check_all(self) -> None:
        for rec in self.done:
            if "result" in rec:
                try:
                    rec["ok"] = bool(self.wl.check_pass(self.spark, self.ctx, rec.pop("result")))
                except Exception:  # noqa: BLE001
                    traceback.print_exc()


def stage(args) -> int:
    wl = workloads.WORKLOADS[args.workload](args.scale)
    if wl.needs_pool():
        t0 = time.time()
        spark = start_session(os.environ["PERFBENCH_TMP"], trace=False)
        try:
            wl.build_pool(spark)
        finally:
            spark.stop()
        log(f"built pool {os.path.basename(wl.pool_dir)} in {time.time() - t0:.1f}s")
    meta = wl.stage(args.seed)
    log(f"staged seed {args.seed}: digest {meta['digest']}")
    return 0


def run(args) -> int:
    tmp = os.environ["PERFBENCH_TMP"]
    wl = workloads.WORKLOADS[args.workload](args.scale)
    staged = wl.stage(args.seed)
    jiffies0 = tr_mod.cpu_jiffies()

    setups, starts, covers = [], [], []
    spark = ctx = None
    for k in range(SETUPS):
        t0 = T0 if k == 0 else time.time()
        if spark is not None:
            spark.stop()
        ts = time.time()
        spark = start_session(tmp, bool(args.trace))
        starts.append(time.time() - ts)
        ctx = wl.setup(spark, staged, tmp)
        setups.append(time.time() - t0)
        covers.append(ctx.get("cover_build_s", 0.0))
    ctx["cover_build_s"] = statistics.median(covers)
    passes = Passes(wl, spark, ctx)
    first = passes.run("first")
    t_warm = time.time()
    warm = [passes.run("warm")]
    while time.time() - t_warm < args.seconds:
        warm.append(passes.run("warm"))
    peak_rss = tr_mod.vm_hwm_mb(passes.jvm) + tr_mod.vm_hwm_mb(os.getpid())

    t_verify = time.time()
    try:
        verified = bool(wl.verify(spark, ctx))
    except Exception:  # noqa: BLE001
        traceback.print_exc()
        verified = False
    t_verify = time.time() - t_verify

    tracer = traced = None
    counts = {}
    if args.trace:
        tracer = tr_mod.Tracer(spark)
        traced, counts = passes.run_traced(tracer)
    passes.check_all()
    spark.stop()

    jiffies1 = tr_mod.cpu_jiffies()
    attempted = len(passes.done)
    failed = sum(not r["ok"] for r in passes.done)
    warm_items = sum(r["items"] for r in warm)
    cpu_warm = sum(r["cpu"] for r in warm)
    rate = statistics.median(r["items"] / r["wall"] for r in warm)

    if args.trace:
        metrics = {k: 0.0 for k in PER_LAYER}
        metrics["session.start_s"] = statistics.median(starts)
        if traced is not None and counts:
            log_ = tr_mod.read_event_logs(os.path.join(tmp, "eventlog"))
            attr = tr_mod.Attribution(tracer, log_)
            metrics.update(wl.layer_metrics(tracer, attr, ctx, counts))
            root = tracer.by_name("pass")
            metrics.update({
                "engine.executor_cpu_s": sum(s.cpu_s for s in log_.stages),
                "engine.gc_s": sum(s.gc_s for s in log_.stages),
                "engine.spill_bytes": sum(s.spill_bytes for s in log_.stages),
                "engine.driver_gap_s": attr.driver_gap_s(root),
                "tracing.overhead_frac": (traced["wall"] / traced["items"]) * rate - 1.0,
            })
        units = PER_LAYER
    else:
        metrics = {
            "items_per_s": rate,
            "first_pass_s": first["wall"],
            "setup_s": statistics.median(setups),
            "cpu_us_per_item": cpu_warm / max(warm_items, 1) * 1e6,
            "peak_rss_mb": peak_rss,
            "ok_frac": (attempted - failed) / attempted,
        }
        units = END_TO_END

    total, steal = (b - a for a, b in zip(jiffies0, jiffies1))
    info = {
        "workload": args.workload, "seed": args.seed, "scale": args.scale,
        "trace": args.trace, "digest": staged["digest"], "nproc": nproc(),
        "mem_total_mb": os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") // 2**20,
        "steal_pct": 100.0 * steal / total if total else 0.0,
        "driver_mem": os.environ.get("SPARK_GRAFT_DRIVER_MEM"),
        "setups_s": setups, "session_starts_s": starts,
        "passes": [{k: r[k] for k in ("kind", "wall", "cpu", "items", "ok")}
                   for r in passes.done],
        "verified": verified, "verify_s": t_verify,
        "spans": tracer.as_json() if tracer is not None else [],
    }
    line = json.dumps(info)
    print("perfbench-info " + line, file=sys.stderr, flush=True)
    log_path = os.path.join(workloads.CACHE, "runs.jsonl")
    kept = []
    if os.path.exists(log_path):
        with open(log_path) as f:
            kept = f.read().splitlines()[-(RUNS_KEPT - 1):]
    with open(log_path + ".tmp", "w") as f:
        f.write("\n".join([*kept, line]) + "\n")
    os.replace(log_path + ".tmp", log_path)

    result = {
        "correct": verified and failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
    }
    with open(os.environ["PERFBENCH_RESULT"], "w") as f:
        json.dump(result, f)
    return 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("mode", choices=("stage", "run"))
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=sorted(workloads.SIZES), default="full")
    args = ap.parse_args(argv)
    # SIGTERM unwinds through the finally below, which stops Spark
    signal.signal(signal.SIGTERM, lambda signum, _frame: sys.exit(128 + signum))
    try:
        return stage(args) if args.mode == "stage" else run(args)
    finally:
        from fs2_osm_spark.session import stop_spark

        stop_spark()


if __name__ == "__main__":
    sys.exit(main())
