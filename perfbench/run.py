"""spark-covergrid benchmark: one workload, one seed, one process.

    python3 perfbench/run.py --workload grid-join --seed 1 --seconds 8 --trace 0

Run from the root of a checkout. The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` -- the
end-to-end metrics of BENCHMARK.json with ``--trace 0``, its per-layer
metrics with ``--trace 1``. The full record of the run (raw per-call times,
checks, host noise, layer records) goes to
``.perfbench_work/records/<workload>-seed<seed>-trace<t>.json``. See
perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import signal
import statistics
import sys
from pathlib import Path
from time import perf_counter

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench_work"

# points per workload; see README.md for why not 1M
SIZES = {"grid-join": 150_000, "tree-build": 57_344}
SMOKE_SIZES = {"grid-join": 20_000, "tree-build": 20_000}
SETUPS = {"grid-join": 2, "tree-build": 2}  # set-ups per run; setup_s is their median
MIN_CYCLES = 2    # timed cycles per run, even when --seconds is short
KERNEL_N = 131_072  # fixed Gaussian array for the single-thread local_tree timings
# a run that is not done by then exits without a result; the slowest runs
# measured on 4 shared vCPUs took about 85 s, traced or not. Stopping the
# JVM and the processes under it may take UNWIND_S more: 175 s in all
DEADLINE_S = 145
UNWIND_S = 30


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(SIZES))
    p.add_argument("--seed", type=int, default=42)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true",
                   help="small inputs: checks the benchmark itself, numbers mean nothing")
    p.add_argument("--record", type=Path, help="where to write the full run record")
    return p.parse_args(argv)


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def median(xs):
    return statistics.median(xs) if xs else 0.0


def dir_bytes(path: Path) -> int:
    total = 0
    for p in path.rglob("*"):
        try:
            if p.is_file():
                total += p.stat().st_size
        except OSError:
            pass
    return total


def run_phase(args, n: int, work: Path, traced: bool, setups: int, min_cycles: int | None,
              seconds: float, host=None, check: bool = True) -> dict:
    """One phase of a run: start a session and load the inputs, run the
    verifying and warm-up cycles and the timed cycles, set up again
    ``setups`` times, then run the oracle checks (unless ``check`` is
    false). ``min_cycles`` None: at least MIN_CYCLES timed cycles and one
    on each input. Returns the phase record."""
    from pyspark import SparkContext

    import workloads
    from parallelcovertree_spark.session import get_spark

    # the engine's defaults, except where a run's files go: inside the checkout
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": str(work / "local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
    }
    # explicit either way: the first session's settings become the JVM's
    # defaults for every later session of the process
    conf["spark.eventLog.enabled"] = str(traced).lower()
    if traced:
        (work / "eventlog").mkdir(exist_ok=True)
        conf.update({
            "spark.eventLog.compress": "false",
            # Spark 4 rolls event logs by default; one plain file is enough
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.dir": (work / "eventlog").as_uri(),
        })
    ncpu = cpus()
    cls = {"grid-join": workloads.GridJoin, "tree-build": workloads.TreeBuild}[args.workload]
    wl = None

    def set_up() -> tuple[float, float]:
        """Start a session and load the input into it: (session s, load s)."""
        nonlocal wl
        t0 = perf_counter()
        spark = get_spark(master=f"local[{ncpu}]", app_name=f"perfbench-{args.workload}",
                          shuffle_partitions=max(2 * ncpu, 16), extra_conf=conf)
        session_s = perf_counter() - t0
        if wl is None:
            wl = cls(spark, workloads.Calls(spark.sparkContext), args.seed, n)
        else:
            wl.bind(spark)
        return session_s, wl.setup()

    jvm_up = SparkContext._gateway is not None
    rec = {"traced": traced, "n": n, "inputs": cls.inputs, "failed_calls": 0}
    try:
        # a set-up is a session start plus the input load. The first one of
        # the process launches the JVM and loads cold: session.start_s and
        # sources.gen_s. The verifying cycle warms up right before the
        # warm-up and timed cycles; the set-ups setup_s is taken from come
        # after them, on a warm JVM
        rec["session_start_s"], rec["first_setup_s"] = set_up()
        # on a JVM an earlier phase launched, the first set-up is a warm one
        rec["setup_s"] = [rec["session_start_s"] + rec["first_setup_s"]] if jvm_up else []
        sc = wl.spark.sparkContext
        if min_cycles is None:
            min_cycles = max(MIN_CYCLES, wl.inputs)
        t0 = perf_counter()
        if check:
            wl.verify_cycle()
        else:  # nothing to verify: a plain cycle warms up in its place
            wl.warming = True
            wl.cycle()
            wl.warming = False
        workloads.quiesce(sc)
        rec["verify_cycle_s"] = perf_counter() - t0
        t0 = perf_counter()
        wl.warming = True
        for _ in range(wl.warmup_cycles if check else 0):
            wl.cycle()
            workloads.quiesce(sc)
        wl.warming = False
        rec["warmup_s"] = perf_counter() - t0

        cycles, inputs, leaks, attempts = [], [], [], 0
        start = perf_counter()
        while attempts < min_cycles or perf_counter() - start < seconds:
            wl.use(attempts % wl.inputs)
            attempts += 1
            before = (sc._jsc.getPersistentRDDs().size(), dir_bytes(work / "local"))
            c0 = perf_counter()
            try:
                wl.cycle()
            except workloads.CallFailed:
                rec["failed_calls"] += 1
                workloads.quiesce(sc)
                continue
            cycles.append(perf_counter() - c0)
            inputs.append(wl.cur)
            workloads.quiesce(sc)
            leaks.append({"before": before,
                          "after": (sc._jsc.getPersistentRDDs().size(), dir_bytes(work / "local"))})
        rec["measure_s"] = perf_counter() - start
        rec["cycle_s"] = cycles
        rec["cycle_input"] = inputs
        rec["leaks"] = leaks
        rec["rss_mb"] = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
        rec["calls"] = wl.calls.spans
        rec["attempted"] = len(wl.timed) + rec["failed_calls"]
        for _ in range(setups):  # each on a new session, the checks on the last
            wl.drop()
            if host is not None:
                host.note()
            wl.spark.stop()
            rec["setup_s"].append(sum(set_up()))

        if check:
            t0 = perf_counter()
            wl.check()
            rec["check_s"] = perf_counter() - t0
            rec["checks"] = wl.checks
            rec["bad_timed"] = wl.bad_timed
            rec["counters"] = wl.counters
        if host is not None:
            rec["host"] = host.record()
            # _DriverRounds' pool size, covertree.py:441-446 (engine default)
            threads = int(os.environ.get("COVERGRID_DRIVER_THREADS", "8"))
            rec["host"]["driver_rounds_threads"] = max(1, min(threads, n // 131072))
    finally:
        if wl is not None:
            wl.spark.stop()
    return rec


def kernel_timings() -> dict:
    """Single-thread local_tree kernels on a fixed Gaussian array."""
    import math

    import numpy as np

    from parallelcovertree_spark.plans.local_tree import build_cover_tree_np, grid_radius_pairs
    from parallelcovertree_spark.sources.synthetic import gaussian_points_np

    import workloads

    pdf = gaussian_points_np(KERNEL_N, var=10.0, seed=42)
    xy = np.stack([pdf["x"].to_numpy(np.float32), pdf["y"].to_numpy(np.float32)], axis=1)
    t0 = perf_counter()
    build_cover_tree_np(xy)
    build_s = perf_counter() - t0
    x, y = xy[:, 0].astype(np.float64), xy[:, 1].astype(np.float64)
    r = workloads.TREE_RADIUS_1M * math.sqrt(1e6 / KERNEL_N)
    t0 = perf_counter()
    grid_radius_pairs(x, y, x, y, r)
    return {"local_tree.build_np_s": build_s, "local_tree.grid_pairs_s": perf_counter() - t0}


def input_cycle_s(phase: dict) -> dict[int, float]:
    """Each input's median timed cycle."""
    by_input: dict[int, list[float]] = {}
    for j, c in zip(phase["cycle_input"], phase["cycle_s"]):
        by_input.setdefault(j, []).append(c)
    return {j: median(cs) for j, cs in by_input.items()}


def end_to_end(phase: dict) -> dict:
    # the mean over the inputs, without the fastest and the slowest input
    # when there are 5 or more: one cycle that a host stall hits does not
    # move cycle_s
    per_input = sorted(input_cycle_s(phase).values())
    if len(per_input) >= 5:
        per_input = per_input[1:-1]
    cycle_s = statistics.fmean(per_input) if per_input else 0.0
    return {
        "setup_s": median(phase["setup_s"]),
        "cycle_s": cycle_s,
        "points_per_s": phase["n"] / cycle_s if cycle_s else 0.0,
        "driver_peak_rss_mb": phase["rss_mb"],
    }


def per_layer(args, plain: dict, traced: dict, work: Path) -> tuple[dict, dict]:
    """The per-layer metrics of a traced run, and its per-call records."""
    import eventlog

    per_call = eventlog.fold(work / "eventlog", traced["calls"])
    groups = eventlog.median_by_group(per_call, traced["calls"])
    out = {}
    for g in eventlog.GROUPS:
        for m in eventlog.GROUP_METRICS:
            out[f"{g}.{m}"] = groups.get(g, {}).get(m, 0.0)
    out["session.start_s"] = traced["session_start_s"]
    out["sources.gen_s"] = traced["first_setup_s"]
    out["sources.rows"] = traced["n"] * traced["inputs"]
    for k in ("covertree.global_iters", "covertree.hubs", "covertree.rounds_ms",
              "covertree.top_vertices"):
        out[k] = traced["counters"].get(k, 0)
    tree = args.workload != "grid-join"
    out.update(kernel_timings() if tree else
               {"local_tree.build_np_s": 0.0, "local_tree.grid_pairs_s": 0.0})
    last = traced["leaks"][-1]["after"] if traced["leaks"] else (0, 0)
    out["leak.persisted_rdds"], out["leak.shm_bytes"] = last
    # the untraced reference phase runs one timed cycle, on the first input
    out["trace.overhead_s"] = (input_cycle_s(traced).get(0, 0.0)
                               - input_cycle_s(plain).get(0, 0.0))
    out["verify.wall_s"] = traced["verify_cycle_s"] + traced["check_s"]
    return out, per_call


def adopt_orphans() -> None:
    """Make this process the subreaper of its descendants: a process whose
    parent dies (the JVM's Python workers, when the JVM goes first) is
    re-parented here instead of to init, so stop_children() finds it."""
    import ctypes

    PR_SET_CHILD_SUBREAPER = 36
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def _children() -> list[int]:
    me = str(os.getpid())
    out = []
    for p in Path("/proc").iterdir():
        if not p.name.isdigit():
            continue
        try:
            stat = (p / "stat").read_text()
        except OSError:
            continue
        if stat[stat.rindex(")") + 2:].split()[1] == me:
            out.append(int(p.name))
    return out


def _signal_children(sig, wait_s: float) -> bool:
    """Send ``sig`` to every child until none is left or ``wait_s`` has
    passed, reaping the ones that end. True when none is left."""
    import time

    end = time.monotonic() + wait_s
    while kids := _children():
        if time.monotonic() > end:
            return False
        for pid in kids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.1)
        for pid in kids:
            try:
                os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:
                pass
    return True


def stop_children(wait_s: float) -> None:
    """Shut the JVM down, then end every process left under this one and
    wait for each: no process of the run outlives it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        try:
            gateway.shutdown()
            if proc is not None:
                proc.stdin.close()  # the JVM exits when its stdin ends
                proc.wait(wait_s)
        except Exception:
            pass
        SparkContext._gateway = SparkContext._jvm = None
    # the Python workers, and the JVM if it did not end by itself
    _signal_children(signal.SIGTERM, wait_s) or _signal_children(signal.SIGKILL, wait_s)


def _hard_exit(*_):
    _signal_children(signal.SIGKILL, 2.0)
    os._exit(3)


def _deadline(*_):
    # unwind (stopping Spark and its processes, removing scratch); if that
    # hangs, kill what is left and exit
    signal.signal(signal.SIGALRM, _hard_exit)
    signal.alarm(UNWIND_S)
    sys.exit("perfbench: deadline passed")


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "parallelcovertree_spark" / "__init__.py").is_file():
        print(f"perfbench: no engine package at {ROOT / 'parallelcovertree_spark'}; "
              "run from a full checkout", file=sys.stderr)
        return 2
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    signal.signal(signal.SIGALRM, _deadline)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit("perfbench: terminated"))
    signal.alarm(DEADLINE_S)
    adopt_orphans()

    # scratch of runs that were killed before they could clean up
    for stale in WORK.glob("run-*"):
        if not Path(f"/proc/{stale.name[4:]}").exists():
            shutil.rmtree(stale, ignore_errors=True)
    work = WORK / f"run-{os.getpid()}"
    for sub in ("local", "tmp", "warehouse"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    # the engine package must import in Spark's Python workers too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ["TMPDIR"] = str(work / "tmp")
    sys.path[:0] = [str(ROOT)]

    from host import HostSampler

    host = HostSampler()
    n = (SMOKE_SIZES if args.smoke else SIZES)[args.workload]
    try:
        if args.trace:
            # the traced session runs first, on a fresh JVM like an untraced
            # run, so its layer records describe the same state; the short
            # untraced session after it (one plain cycle to warm up, one
            # timed) is the reference for trace.overhead_s
            traced = run_phase(args, n, work, True, 0, None, args.seconds, host=host)
            plain = run_phase(args, n, work, False, 0, 1, 0, check=False)
            metrics, per_call = per_layer(args, plain, traced, work)
            record = {"untraced": plain, "traced": traced, "per_call": per_call,
                      "end_to_end": end_to_end(plain)}
            final = traced
            names = spec["per_layer"]
        else:
            final = run_phase(args, n, work, False, SETUPS[args.workload], None,
                              args.seconds, host=host)
            metrics = end_to_end(final)
            record = {"untraced": final, "end_to_end": metrics}
            names = spec["end_to_end"]
    finally:
        # from here on, a deadline kills what is left and exits
        signal.signal(signal.SIGALRM, _hard_exit)
        stop_children(wait_s=UNWIND_S / 4)
        shutil.rmtree(work, ignore_errors=True)
    signal.alarm(0)

    failed = final["failed_calls"] + final["bad_timed"]
    correct = failed == 0 and all(c["ok"] for c in final["checks"])
    import eventlog

    record.update({
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "smoke": args.smoke, "correct": correct,
        "layer_metrics": metrics if args.trace else None,
        "exact": [f"{g}.{m}" for g in eventlog.GROUPS for m in eventlog.EXACT_GROUP_METRICS]
                 + ["sources.rows", "covertree.global_iters", "covertree.hubs",
                    "covertree.top_vertices"],
    })
    path = args.record or WORK / "records" / f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    path.parent.mkdir(parents=True, exist_ok=True)
    path.write_text(json.dumps(record, indent=1, default=str))
    for c in final["checks"]:
        print(f"perfbench check {'ok  ' if c['ok'] else 'FAIL'} {c['check']} {c['detail'] if not c['ok'] else ''}")
    print(f"perfbench host {json.dumps(final.get('host'))}")
    print(f"perfbench record {path}")
    out = {
        "correct": correct,
        "attempted": max(final["attempted"], 1),
        "failed": failed,
        "metrics": {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]} for m in names},
    }
    print(json.dumps(out), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
