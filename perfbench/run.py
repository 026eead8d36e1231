"""Seeded benchmark of the engine, run from outside it.

    python3 perfbench/run.py --workload assign --seed 1 --seconds 30 --trace 0

One driver process at local[nproc], one operation at a time.  See
perfbench/README.md for the workloads, the metrics and the traced run.
The last stdout line is the JSON result; the exit code is non-zero when
an output check fails or the engine sources are missing.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
N_SETUPS = 3


class Context:
    """Where a run reads and writes, and the machine it runs on."""

    def __init__(self, workload: str, seed: int):
        from perfbench.inputs import source_key

        self.workload = workload
        self.seed = seed
        self.cores = len(os.sched_getaffinity(0))
        self.ram_bytes = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
        self.cache = os.path.join(WORK, "cache")
        self.run_dir = os.path.join(WORK, "run")
        self.reports = os.path.join(WORK, "reports")
        bench = [os.path.join(HERE, f) for f in sorted(os.listdir(HERE)) if f.endswith(".py")]
        self.source_key = source_key(ROOT, bench)

    def configure_env(self) -> None:
        """Size Spark for this machine and keep every file it writes under
        the run directory (set before the JVM starts)."""
        shutil.rmtree(self.run_dir, ignore_errors=True)
        tmp = os.path.join(self.run_dir, "tmp")
        for d in (tmp, self.cache, self.reports):
            os.makedirs(d, exist_ok=True)
        # a third of RAM, at most 6 GiB: the whole local[n] engine lives in
        # this one JVM, and the default 16g exceeds small machines' RAM
        heap_gib = max(2, min(6, self.ram_bytes // 3 // 2**30))
        os.environ.update(
            TMPDIR=tmp,
            SPARK_LOCAL_DIRS=os.path.join(self.run_dir, "spark-local"),
            SPARK_WAREHOUSE_DIR=os.path.join(self.run_dir, "warehouse"),
            SPARK_DRIVER_MEMORY=f"{heap_gib}g",
            SPARK_GRAFT_CPUS=str(self.cores),
            # no /tmp/hsperfdata_* files: the JVM writes only under the run dir
            SPARK_SUBMIT_OPTS=f"{os.environ.get('SPARK_SUBMIT_OPTS', '')} -Djava.io.tmpdir={tmp} -XX:-UsePerfData".strip(),
        )

    def machine(self) -> dict:
        import pyspark

        return {
            "cores": self.cores,
            "ram_gib": round(self.ram_bytes / 2**30, 1),
            "driver_memory": os.environ["SPARK_DRIVER_MEMORY"],
            "pyspark": pyspark.__version__,
            "python": platform.python_version(),
        }


def start_session(ctx: Context):
    """SparkSession at local[cores] with shuffle partitions = cores, the
    engine package shipped to the Python workers, and the workers up."""
    import __spark_entry__ as E
    from osm_public_space_mapper_spark.session import get_spark

    spark = get_spark(app=f"perfbench-{ctx.workload}", cores=ctx.cores, shuffle_partitions=ctx.cores)
    spark.sparkContext.setLogLevel("ERROR")
    E._ensure_pyfiles(spark)
    # start one Python worker per core, so worker boot is set-up work and
    # not the first op's
    spark.range(ctx.cores, numPartitions=ctx.cores).mapInArrow(lambda batches: batches, "id long").count()
    return spark


def stop_jvm() -> None:
    """Stop the py4j gateway JVM this process launched and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def make_workload(name: str, ctx: Context):
    from perfbench.assign import Assign
    from perfbench.curation import Curation

    return {"assign": Assign, "curation": Curation}[name](ctx)


WORKLOADS = ("assign", "curation")
LAYER_SPANS = (
    "session.start",
    "joins.prepare", "joins.subdivide_tiles", "joins.pip_join_raster", "geofence.pip_join_expr",
    "joins.pip_join", "joins.knn_join", "icelite.commit_resumable", "icelite.resume",
    "pipeline.classify_stage", "pipeline.build_overlay_records", "pipeline.overlay_stage",
    "tiling.rasterize_tiles", "geojson.write_geojsonl",
    "dedup.minhash_lsh_pairs", "dedup.ngram_jaccard_pairs", "graph.dup_clusters",
    "dedup.simhash_hamming_pairs", "similarity.brute_force_topk", "dedup.embedding_dups",
)


def ensure_prepared(ctx: Context) -> None:
    """Fill the layer cache in a separate, untimed process, so every
    measured run starts from the same state."""
    from perfbench.assign import cache_ready

    if not cache_ready(ctx):
        cmd = [sys.executable, os.path.abspath(__file__), "--prepare"]
        subprocess.run(cmd, check=True, timeout=840, stdout=sys.stderr)


def prepare(ctx: Context) -> None:
    from perfbench.assign import prepare_cache

    ctx.configure_env()
    spark = start_session(ctx)
    try:
        prepare_cache(spark, ctx)
    finally:
        spark.stop()
        stop_jvm()


class Runner:
    """One benchmark process: the session, the active workload, op counts
    and memory sampling."""

    def __init__(self, ctx: Context):
        from perfbench.tracing import RssSampler

        self.ctx = ctx
        self.spark = None
        self.active = None
        self.rss = RssSampler()
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.t0 = time.perf_counter()

    def log(self, what: str) -> None:
        print(f"perfbench {time.perf_counter() - self.t0:7.1f}s {what}", file=sys.stderr, flush=True)

    def fail(self, where: str, errors) -> None:
        self.failed += len(errors)
        self.errors += [f"{where}: {e}" for e in errors]

    def new_session(self, wl, tracer):
        """(Re)start the session and set `wl` up; returns its HostClock."""
        from perfbench.tracing import HostClock

        self.stop_session()
        tracer.rebind(None)
        with HostClock() as clock:
            with tracer.span("session.start"):
                self.spark = start_session(self.ctx)
            self.rss.watch(jvm_pid())
            tracer.rebind(self.spark)
            wl.setup(self.spark, tracer)
        self.active = wl
        self.log(f"{wl.name} set up")
        return clock

    def stop_session(self) -> None:
        if self.active is not None:
            self.active.teardown()
            self.active = None
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def round(self, wl, tracer, ref=None):
        """Run one round; count its ops and every output that differs from
        the reference round.  Returns (outputs, seconds, per-op seconds,
        HostClock); seconds is the sum of the ops' wall times."""
        from perfbench.tracing import HostClock

        n0 = len(tracer.spans)
        with HostClock() as clock:
            out = wl.run_round(tracer)
        spans = [s for s in tracer.spans[n0:] if s["parent"] is None]
        self.attempted += len(out)
        if ref is not None:
            self.fail(wl.name, [f"{k} output {out[k]} differs from the checked round's {ref[k]}"
                                for k in sorted(out) if out[k] != ref[k]])
        op_s = {s["name"]: s["end"] - s["start"] for s in spans}
        return out, sum(op_s.values()), op_s, clock

    def checked_round(self, wl, tracer):
        """A round whose outputs are then deep-checked (untimed)."""
        res = self.round(wl, tracer)
        self.log(f"{wl.name} round done")
        self.fail(wl.name, wl.check(res[0]))
        self.log(f"{wl.name} round checked")
        return res

    def measure(self, wl, seconds: float) -> dict:
        """Untraced metric run: N_SETUPS set-ups (the first one starts the
        JVM), then closed-loop rounds until `seconds` of round time.  The
        first round's outputs are deep-checked (untimed) and every later
        round must give the same outputs.  Set-up and round times are
        reported on unheld CPUs (wall × HostClock.share), and as wall
        times."""
        from perfbench.tracing import Tracer

        off = Tracer(None, enabled=False)
        setups = [self.new_session(wl, off) for _ in range(N_SETUPS)]
        ref, secs, op_s, clock = self.checked_round(wl, off)
        rounds = [(secs, op_s, clock)]
        while sum(r[0] for r in rounds) < seconds:
            rounds.append(self.round(wl, off, ref)[1:])
        return {
            "setup_s": statistics.median(c.wall * c.share for c in setups),
            "round_s": statistics.median(secs * c.share for secs, _, c in rounds),
            "setup_wall_s": statistics.median(c.wall for c in setups),
            "round_wall_s": statistics.median(secs for secs, _, _ in rounds),
            "setups": [c.report() for c in setups],
            "rounds": [c.report() | {"ops_wall_s": secs} for secs, _, c in rounds],
            "peak_rss_mb": self.rss.peak / 2**20,
            "ops_s": {k: statistics.median(r[1][k] for r in rounds) for k in rounds[0][1]},
        }

    def profile(self, primary, others) -> tuple:
        """Traced run.  The primary workload is set up and run untraced
        (a first round that warms the JVM, then a second, timed round),
        then set up again and run traced; the traced set-up and round minus
        the untraced restart and second round is the tracing overhead, both
        in a warm JVM.  Then every other workload and the cold layer build
        run traced once, so each traced run records every span.  Every
        traced round is deep-checked."""
        from perfbench.assign import trace_layer
        from perfbench.tracing import Tracer

        off = Tracer(None, enabled=False)
        on = Tracer(None, enabled=True)
        self.new_session(primary, off)
        ref = self.round(primary, off)[0]
        self.rss.reset()
        _, secs, _, clock = self.round(primary, off, ref)
        untraced = {"round_s": secs * clock.share, "peak_rss_mb": self.rss.reset() / 2**20}
        clock = self.new_session(primary, off)
        untraced["setup_s"] = clock.wall * clock.share
        clock = self.new_session(primary, on)
        traced = {"setup_s": clock.wall * clock.share}
        self.rss.reset()
        _, secs, _, clock = self.checked_round(primary, on)
        traced["round_s"] = secs * clock.share
        traced["peak_rss_mb"] = self.rss.reset() / 2**20
        on.release()
        for wl in others:
            self.new_session(wl, on)
            self.checked_round(wl, on)
            on.release()
        self.attempted += 1
        self.fail("layer", trace_layer(self.spark, on, self.ctx))
        on.release()
        return on, untraced, traced

    def close(self) -> None:
        self.stop_session()
        stop_jvm()
        self.rss.close()


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--prepare", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)
    missing = [p for p in ("osm_public_space_mapper_spark", "__spark_entry__.py")
               if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: engine sources not found in {ROOT}: {', '.join(missing)}", file=sys.stderr)
        return 2
    if args.workload is None and not args.prepare:
        ap.error("--workload is required")
    sys.path.insert(0, ROOT)
    ctx = Context(args.workload or "prepare", args.seed)
    if args.prepare:
        prepare(ctx)
        return 0

    spec = load_spec()
    ensure_prepared(ctx)
    ctx.configure_env()
    runner = Runner(ctx)
    wl = make_workload(args.workload, ctx)
    others = [make_workload(n, ctx) for n in WORKLOADS if n != args.workload]
    try:
        if args.trace:
            tracer, untraced, traced = runner.profile(wl, others)
        else:
            res = runner.measure(wl, args.seconds)
    finally:
        runner.close()

    report = {"workload": wl.name, "seed": args.seed, "trace": args.trace, "machine": ctx.machine(),
              "attempted": runner.attempted, "failed": runner.failed, "errors": runner.errors}
    if args.trace:
        layer = tracer.layer_metrics(LAYER_SPANS)
        overhead = {k: traced[k] - untraced[k] for k in traced}
        layer.update((f"trace.overhead.{k}", v) for k, v in overhead.items())
        metrics = {m["name"]: {"value": layer.get(m["name"], 0.0), "unit": m["unit"]} for m in spec["per_layer"]}
        report.update(per_layer=layer, overhead=overhead, untraced=untraced, traced=traced)
        tracer.dump(os.path.join(ctx.reports, f"{wl.name}-seed{args.seed}-trace.json"), {"report": report})
    else:
        metrics = {m["name"]: {"value": res[m["name"]], "unit": m["unit"]} for m in spec["end_to_end"]}
        named = {}
        for span, (name, unit, rows_attr) in wl.report.items():
            secs = res["ops_s"][span]
            named[name] = (getattr(wl, rows_attr) / secs if rows_attr else secs, unit)
        report.update(res=res, named=named)
        named["peak_rss_mb"] = (res["peak_rss_mb"], "MiB")
        named["round_wall_s"] = (res["round_wall_s"], "s")
        named["setup_wall_s"] = (res["setup_wall_s"], "s")
        named["cold_setup_s"] = (res["setups"][0]["wall_s"], "s")
        for name, (value, unit) in named.items():
            print(f"{name} {value:.6g} {unit}")
        with open(os.path.join(ctx.reports, f"{wl.name}-seed{args.seed}.json"), "w") as fh:
            json.dump(report, fh, indent=1)
    m = report["machine"]
    print(f"machine: local[{m['cores']}] ram {m['ram_gib']} GiB driver {m['driver_memory']} "
          f"pyspark {m['pyspark']} python {m['python']}")
    print(f"ops_attempted {runner.attempted} ops_failed {runner.failed}")
    for e in runner.errors:
        print(f"CHECK FAILED: {e}", file=sys.stderr)
    shutil.rmtree(ctx.run_dir, ignore_errors=True)
    print(json.dumps({
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": metrics,
    }))
    return 0 if runner.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
