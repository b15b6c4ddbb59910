"""Repo benchmark: one workload, one seed, one closed-loop run.

    python3 perfbench/run.py --workload join_tiles --seed 1 --seconds 20 --trace 0

Run from the repository root. One driver process runs passes back to back
(one client, no extra threads) on ``local[<cpus>]``. Every pass is checked
against an oracle that does not use the engine (``perfbench/oracles.py``); a
pass that raises or disagrees counts as failed.

``--trace 0`` prints the end-to-end metrics (``cpu_s``, ``peak_rss_mb``,
``setup_s``; the pass wall time and images per second are figures on the
line before the result, not metrics); ``--trace 1`` runs the same
passes untraced and then traced (event log on, every call tagged with its
span) plus one pass over the layer prefixes, and prints the per-layer
metrics. The last stdout line is the result JSON; the line before it holds
the host block and the extra figures. ``--results FILE`` also appends the
full record to FILE for ``perfbench/compare.py``.

Scratch files live in ``.perfbench/`` under the repository root.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench")
SETUPS = 3        # set-ups (fresh session + inputs) per run; setup_s is their median
# Spark's own default heap. The engine's default (16g) leaves the heap to grow
# with GC timing, and peak RSS would follow it rather than the workload.
DRIVER_MEM = "1g"


def _cpus() -> int:
    return len(os.sched_getaffinity(0))


def _isolate_env(run_dir: str) -> None:
    """Keep every file the run, Spark and the engine write under WORK."""
    for sub in ("tmp", "cache"):
        os.makedirs(os.path.join(WORK, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    # the compiled codec kernels are cached per checkout, built once
    os.environ["XDG_CACHE_HOME"] = os.path.join(WORK, "cache")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # every JVM (the launcher and the driver): temp files under WORK, and no
    # hsperfdata files, which HotSpot writes to /tmp whatever the temp dir
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}"
    import tempfile

    tempfile.tempdir = None


def _session(run_dir: str, event_dir: str | None = None):
    from gdal_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
    }
    if event_dir:
        os.makedirs(event_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "true",
        })
    # one shuffle partition per core: the engine's floor of 32 is sized for a
    # cluster, and on a few cores a small pyramid would be all task starts
    spark = get_spark(
        "perfbench", master=f"local[{_cpus()}]", shuffle_partitions=_cpus(), extra_conf=conf
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _tree() -> dict:
    """``/proc/<pid>/stat`` fields after the command name, for this process
    and all its descendants: the Python driver, the driver JVM and the
    Python workers."""
    stat = {}
    for p in os.listdir("/proc"):
        if p.isdigit():
            try:
                with open(f"/proc/{p}/stat") as f:
                    stat[int(p)] = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
    tree, frontier = {os.getpid()}, [os.getpid()]
    while frontier:
        kids = [c for c, v in stat.items() if int(v[1]) in frontier and c not in tree]
        tree.update(kids)
        frontier = kids
    return {p: stat[p] for p in tree if p in stat}


def _tree_hwm_mb() -> float:
    """Peak RSS (VmHWM) summed over the process tree."""
    kb = 0
    for p in _tree():
        try:
            with open(f"/proc/{p}/status") as f:
                kb += next((int(l.split()[1]) for l in f if l.startswith("VmHWM:")), 0)
        except OSError:
            continue
    return kb / 1024.0


_TICK = os.sysconf("SC_CLK_TCK")


def _tree_cpu_s() -> float:
    """CPU seconds the process tree has used: user + system time of every
    live process and of the children each has reaped. The kernel books
    time the hypervisor gave to other guests as steal, not to the process."""
    return sum(sum(int(x) for x in v[11:15]) for v in _tree().values()) / _TICK


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) clock ticks of all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[7], sum(v)


def _host(spark, native_lane: int) -> dict:
    with open("/proc/meminfo") as f:
        mem_kb = int(next(l for l in f if l.startswith("MemTotal:")).split()[1])
    sha = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        try:
            sha = subprocess.run(
                ["git", "rev-parse", "HEAD"], capture_output=True, text=True, timeout=10, cwd=ROOT
            ).stdout.strip() or None
        except (OSError, subprocess.SubprocessError):
            pass
    src = hashlib.sha256()
    for base, _, files in sorted(os.walk(os.path.join(ROOT, "gdal_spark"))):
        for fn in sorted(files):
            if fn.endswith(".py"):
                with open(os.path.join(base, fn), "rb") as f:
                    src.update(f.read())
    conf = dict(spark.sparkContext.getConf().getAll())
    keep = ("spark.master", "spark.driver.memory", "spark.sql.shuffle.partitions",
            "spark.sql.adaptive.enabled", "spark.sql.execution.arrow.maxRecordsPerBatch",
            "spark.python.worker.reuse", "spark.sql.files.maxPartitionBytes")
    import pyspark

    return {
        "nproc": _cpus(),
        "mem_total_mb": round(mem_kb / 1024),
        "python": sys.version.split()[0],
        "pyspark": pyspark.__version__,
        "spark_conf": {k: conf.get(k) for k in keep},
        "git_sha": sha,
        "source_sha256": src.hexdigest()[:16],
        "codec.native_lane": native_lane,
    }


class Runner:
    def __init__(self, wl, seed: int, run_dir: str):
        from perfbench.trace import Spans

        self.wl, self.seed, self.run_dir = wl, seed, run_dir
        self.inputs = os.path.join(run_dir, "inputs")
        self.scratch = os.path.join(run_dir, "scratch")
        os.makedirs(self.scratch, exist_ok=True)
        self.spark = None
        self.spans = Spans()
        self.expected = None
        self.oracle = None
        self.attempted = self.failed = 0
        self.rss_mb = 0.0

    def setup(self) -> float:
        """Fresh session + seeded inputs; returns its duration."""
        import numpy as np

        t0 = time.perf_counter()
        if self.spark is not None:
            self.spark.stop()
        self.spark = _session(self.run_dir)
        shutil.rmtree(self.inputs, ignore_errors=True)
        self.n_images = self.wl.generate(np.random.default_rng(self.seed), self.inputs)
        return time.perf_counter() - t0

    def restart(self, event_dir: str | None = None) -> None:
        self.spark.stop()
        self.spark = _session(self.run_dir, event_dir)

    def start_oracle(self) -> None:
        """Start the workload's oracle in a child process, so that its memory
        and imports stay out of the driver's peak RSS, and the cold pass runs
        while it works."""
        code = (
            "import json, sys; from perfbench.workloads import WORKLOADS; "
            "print(json.dumps(WORKLOADS[sys.argv[1]].expected(sys.argv[2])))"
        )
        self.oracle = subprocess.Popen(
            [sys.executable, "-c", code, self.wl.name, self.inputs], cwd=ROOT,
            stdout=subprocess.PIPE, text=True, env={**os.environ, "PYTHONPATH": ROOT},
        )

    def stop_oracle(self) -> None:
        if self.oracle is not None and self.oracle.poll() is None:
            self.oracle.kill()
            self.oracle.wait()

    def expect(self) -> dict:
        """The oracle's digests, waiting for its child process once."""
        if self.expected is None:
            out, _ = self.oracle.communicate(timeout=150)
            if self.oracle.returncode != 0:
                raise RuntimeError(f"oracle exited with {self.oracle.returncode}")
            last = out.strip().splitlines()[-1]
            self.expected = {
                k: tuple(v) if isinstance(v, list) else v for k, v in json.loads(last).items()
            }
        return self.expected

    def one_pass(self, tag: str | None = None) -> dict | None:
        """One checked pass: ``{"wall": {call: s}, "cpu": {call: s}}``, the
        wall and CPU seconds of each of its calls (``plan`` builds the calls'
        plans), or None when it failed."""
        self.attempted += 1
        ok, times, cpu, got = True, {}, {}, {}

        def timed(span, fn):
            name = f"{tag}/{span}" if tag else span
            c0 = _tree_cpu_s()
            out = self.spans.run(self.spark, name, fn, parent=tag, tag=tag is not None)
            sp = self.spans.last()
            times[span] = sp["end"] - sp["start"]
            cpu[span] = _tree_cpu_s() - c0
            return out

        calls = timed("plan", lambda: self.wl.calls(self.spark, self.inputs, self.scratch))
        for span, fn in calls:
            try:
                got[span] = timed(span, fn)
            except Exception:
                traceback.print_exc(file=sys.stderr)
                ok = False
        self.rss_mb = max(self.rss_mb, _tree_hwm_mb())
        expected = self.expect()
        for span, digest in got.items():
            if digest != expected[span]:
                print(f"check failed: {span}: got {digest}, expected {expected[span]}", file=sys.stderr)
                ok = False
        if not ok:
            self.failed += 1
            return None
        return {"wall": times, "cpu": cpu}

    def warm(self, seconds: float, min_passes: int, tag: str | None = None) -> list[dict]:
        """Checked passes back to back: two, then up to ``min_passes`` unless
        those two already took ``seconds`` (a crowded host, where more would
        overrun the run), then more while one of typical length still ends
        within ``seconds``."""
        passes, walls, k = [], [], 0
        t_start = time.perf_counter()

        def more() -> bool:
            spent = time.perf_counter() - t_start
            if k < min(2, min_passes):
                return True
            if k < min_passes:
                return spent < seconds
            return spent + statistics.median(walls) <= seconds

        while more():
            t0 = time.perf_counter()
            times = self.one_pass(f"{tag}/{k}" if tag else None)
            walls.append(time.perf_counter() - t0)
            if times is not None:
                passes.append(times)
            k += 1
        return passes

    def layers(self) -> dict:
        """Time each plan prefix under its own span; returns per-span
        ``{"s": seconds, "rows": count, "persisted": bytes}``."""
        out = {}
        for span, parent, fn in self.wl.layers(self.spark, self.inputs, self.scratch):
            r = self.spans.run(self.spark, f"layer/{span}", fn, parent=parent, tag=True)
            sp = self.spans.last()
            extra = r if isinstance(r, dict) else {"rows": r}
            out[span] = {"s": sp["end"] - sp["start"], "parent": parent,
                         "persisted": _persisted_bytes(self.spark), **extra}
        return out


def _stop_jvm() -> None:
    """End the driver JVM this process launched and wait for it: it exits
    when its stdin closes."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    gw.shutdown()
    proc = getattr(gw, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = SparkContext._jvm = None


def _persisted_bytes(spark) -> int:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return int(sum(i.memSize() + i.diskSize() for i in infos))


def _pass_s(passes: list[dict], kind: str) -> float:
    """A typical pass: the sum over its calls of each call's median
    ``kind`` ("wall" or "cpu") seconds across ``passes``, or 0.0 when none
    succeeded (the run is then incorrect). A stall that hits one call in one
    pass drops out of that call's median, where a median over whole passes
    would keep it once stalls hit half the passes."""
    if not passes:
        return 0.0
    return sum(statistics.median(p[kind][c] for p in passes) for c in passes[0][kind])


def run(args) -> dict:
    from perfbench.workloads import WORKLOADS

    wl = WORKLOADS[args.workload]
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    _isolate_env(run_dir)
    from gdal_spark import native

    native_lane = int(native.get_lib() is not None)
    r = Runner(wl, args.seed, run_dir)
    try:
        # the same seed gives the same inputs on every set-up
        setups = [r.setup() for _ in range(1 if args.trace else SETUPS)]
        r.start_oracle()
        # set-up runs no Spark job, so the first pass is a cold pass: the
        # session is fresh and has started no Python worker. It is the
        # run's warm-up and is checked once the oracle has finished. Its
        # time is reported but is no metric: one sample per run is too few.
        t0 = time.perf_counter()
        r.one_pass()
        cold = time.perf_counter() - t0
        host = _host(r.spark, native_lane)
        st0, tot0 = _cpu_ticks()
        # a traced run splits its time between an untraced and a traced
        # session, each with its own cold pass, so it runs fewer passes
        passes = r.warm(args.seconds / 2, 2) if args.trace else r.warm(args.seconds, wl.WARM_PASSES)
        st1, tot1 = _cpu_ticks()
        # the share of CPU time the hypervisor gave to other guests while
        # the warm passes ran: a slow run with a high share was crowded out
        host["cpu_steal_share"] = (st1 - st0) / max(tot1 - tot0, 1)
        result = {"workload": wl.name, "seed": args.seed, "host": host,
                  "passes": r.attempted - r.failed, "setups": setups, "cold_pass_s": cold,
                  "warm_passes": [sum(p["wall"].values()) for p in passes],
                  "warm_cpu_s": [sum(p["cpu"].values()) for p in passes]}
        wall = _pass_s(passes, "wall")
        # Wall time is reported but not gated: on a shared 4 vCPU host it
        # rose 40-70% in runs where the hypervisor took 7-12% of the CPUs,
        # while CPU time rose about 20%.
        result["figures"] = {
            "wall_s": {"value": wall, "unit": "s"},
            "images_per_s": {"value": r.n_images / wall if passes else 0.0, "unit": "1/s"},
        }
        if not args.trace:
            metrics = {
                "setup_s": (statistics.median(setups), "s"),
                "cpu_s": (_pass_s(passes, "cpu"), "s"),
                "peak_rss_mb": (r.rss_mb, "MB"),
            }
        else:
            # The traced passes follow the untraced ones in the same JVM, so
            # they run on code the JIT has warmed further; the later half of
            # the untraced passes is the closer match.
            metrics = traced_metrics(r, args.seconds / 2, _pass_s(passes[len(passes) // 2:], "wall"),
                                     native_lane)
        result["spans"] = os.path.join(WORK, f"spans-{wl.name}.jsonl")
        r.spans.write(result["spans"])
    finally:
        r.stop_oracle()
        if r.spark is not None:
            r.spark.stop()
        _stop_jvm()
        shutil.rmtree(run_dir, ignore_errors=True)
    result["error_rate"] = r.failed / r.attempted if r.attempted else 1.0
    result["attempted"], result["failed"] = r.attempted, r.failed
    result["metrics"] = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
    return result


def traced_metrics(r: Runner, seconds: float, untraced_wall: float, native_lane: int) -> dict:
    from perfbench.trace import EventLog

    events = os.path.join(r.run_dir, "events")
    r.restart(events)
    r.one_pass("cold")  # the fresh session's first pass; not in the traced wall
    passes = r.warm(seconds, 2, tag="pass")
    lay = r.layers()
    r.spark.stop()
    log = EventLog(events)
    n_pass = len(passes) or 1
    tot = log.totals("pass")
    traced_wall = _pass_s(passes, "wall")

    def self_s(span):
        if span not in lay:
            return 0.0
        p = lay[span]["parent"]
        return lay[span]["s"] - (lay[p]["s"] if p else 0.0)

    def rows(span):
        return lay.get(span, {}).get("rows", 0)

    def ratio(a, b):
        return a / b if b else 0.0

    pip_in = log.totals("layer/spatial_join.pip")["py.rows_in"]
    sink = lay.get("tiler.write", {})
    m = {
        "spatial_join.explode_s": (self_s("spatial_join.explode"), "s"),
        "spatial_join.cells_per_row": (ratio(rows("spatial_join.explode"), rows("scan")), "ratio"),
        "spatial_join.candidates": (rows("spatial_join.filter"), "count"),
        "spatial_join.filter_s": (self_s("spatial_join.filter"), "s"),
        "spatial_join.refine_s": (self_s("spatial_join.refine"), "s"),
        "spatial_join.refine_keep_ratio": (
            ratio(rows("spatial_join.refine"), rows("spatial_join.filter")), "ratio"),
        "spatial_join.poly_candidates": (rows("spatial_join.poly_filter"), "count"),
        "spatial_join.poly_refine_s": (self_s("spatial_join.poly_refine"), "s"),
        "spatial_join.poly_refine_keep_ratio": (
            ratio(rows("spatial_join.poly_refine"), rows("spatial_join.poly_filter")), "ratio"),
        "spatial_join.pip_s": (self_s("spatial_join.pip"), "s"),
        "spatial_join.pip_keep_ratio": (ratio(rows("spatial_join.pip"), pip_in), "ratio"),
        "spatial_join.pip_salted_s": (self_s("spatial_join.pip_salted"), "s"),
        "spatial_join.broadcast_bytes": (
            log.totals("layer/spatial_join.poly_refine")["broadcast_bytes"], "bytes"),
        "tiler.assign_s": (self_s("tiler.assign"), "s"),
        "tiler.assign_rows": (rows("tiler.assign"), "count"),
        # workers start once per session: boot time is the traced cold pass's
        "python_udf.boot_ms": (log.totals("cold")["py.boot_ms"], "ms"),
        "python_udf.init_ms": (tot["py.init_ms"] / n_pass, "ms"),
        "python_udf.total_ms": (tot["py.total_ms"] / n_pass, "ms"),
        "python_udf.bytes_sent": (tot["py.bytes_sent"] / n_pass, "bytes"),
        "python_udf.bytes_received": (tot["py.bytes_received"] / n_pass, "bytes"),
        "python_udf.share": (ratio(tot["py.total_ms"], tot["run_ms"]), "ratio"),
        "info.headers_s": (self_s("info.headers"), "s"),
        "pipeline.checksums_s": (self_s("pipeline.checksums"), "s"),
        "codec.decode_per_s": (
            ratio(rows("pipeline.checksums"), self_s("pipeline.checksums")), "1/s"),
        "codec.native_lane": (native_lane, "flag"),
        "tiler.base_s": (self_s("tiler.base"), "s"),
        "tiler.overview_s": (self_s("tiler.pyramid"), "s"),
        "tiler.tiles_out": (rows("tiler.pyramid"), "count"),
        "tiler.srcs_per_tile": (r.expected.get("base_srcs_per_tile", 0.0), "ratio"),
        "tiler.write_s": (self_s("tiler.write"), "s"),
        "tiler.bytes_written": (sink.get("bytes_written", 0), "bytes"),
        "tiler.files_written": (sink.get("files_written", 0), "count"),
        "tiler.stored_bytes_per_tile": (ratio(sink.get("tile_bytes", 0), sink.get("rows", 0)), "bytes"),
        "cache.persisted_bytes": (max((v["persisted"] for v in lay.values()), default=0), "bytes"),
        "exchange.shuffle_write_bytes": (tot["shuffle_write_bytes"] / n_pass, "bytes"),
        "exchange.shuffle_read_bytes": (tot["shuffle_read_bytes"] / n_pass, "bytes"),
        "exchange.spill_bytes": (tot["spill_bytes"] / n_pass, "bytes"),
        "exchange.fetch_wait_ms": (tot["fetch_wait_ms"] / n_pass, "ms"),
        "tasks.count": (tot["tasks"] / n_pass, "count"),
        "tasks.run_ms": (tot["run_ms"] / n_pass, "ms"),
        "tasks.cpu_ms": (tot["cpu_ms"] / n_pass, "ms"),
        "tasks.gc_ms": (tot["gc_ms"] / n_pass, "ms"),
        "tasks.skew": (log.skew("pass"), "ratio"),
        "tracing.wall_s": (traced_wall, "s"),
        "tracing.overhead_s": (traced_wall - untraced_wall, "s"),
    }
    return m


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--results", help="append the full record to this JSON-lines file")
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "gdal_spark", "session.py")):
        print("perfbench: run from the repository root (gdal_spark/ not found)", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    res = run(args)
    if args.results:
        with open(args.results, "a") as f:
            f.write(json.dumps(res) + "\n")
    extra = {k: res[k] for k in ("workload", "seed", "host", "error_rate", "passes", "setups",
                                 "cold_pass_s", "warm_passes", "warm_cpu_s", "figures")}
    print(json.dumps(extra))
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": res["metrics"],
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
