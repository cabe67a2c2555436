"""Run one fsspark benchmark workload and print its metrics.

Usage, from the root of a checkout::

    python3 perfbench/run.py --workload pipeline_screen --seed 0 \\
        --seconds 5 --trace 0

The load is a closed loop: this one driver process runs one job at a time,
back to back, on ``local[nproc]`` with nproc shuffle partitions, and starts
another job only while it is expected to end inside ``--seconds``.

``--trace 0`` prints the end-to-end metrics (``setup_s``, ``job_s``,
``rows_per_s``, ``ok_ratio``); ``--trace 1`` prints the per-layer metrics of
a separate traced run. Either way the last line of standard output is one
JSON object ``{"correct", "attempted", "failed", "metrics"}``; progress
lines go before it. Inputs are generated once per seed under
``.perfbench/data``; checkpoints, outputs, Spark scratch and event logs go
to ``.perfbench/work``, which every run empties first.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.getcwd()
BENCH_DIR = os.path.join(ROOT, ".perfbench")
WORK = os.path.join(BENCH_DIR, "work")
SETUPS = 3  # set-ups per run; setup_s is their median
PINS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "pins.json")


def log(msg: str) -> None:
    print(f"perfbench: {msg}", flush=True)


def _require_checkout() -> bool:
    need = ("featurescreening_jl_spark/__init__.py", "__spark_entry__.py", "bench.py")
    missing = [p for p in need if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: run from the root of an fsspark checkout; missing "
              f"{', '.join(missing)}", file=sys.stderr)
    return not missing


def _prepare_env(ncpu: int) -> None:
    shutil.rmtree(WORK, ignore_errors=True)
    for sub in ("local", "tmp", "events"):
        os.makedirs(os.path.join(WORK, sub))
    old = os.environ.get("PYTHONPATH")
    os.environ.update(
        # Python workers import the package from the checkout
        PYTHONPATH=ROOT + (os.pathsep + old if old else ""),
        SPARK_LOCAL_DIRS=os.path.join(WORK, "local"),
        TMPDIR=os.path.join(WORK, "tmp"),
        SPARK_GRAFT_CPUS=str(ncpu),
    )


def _spark_conf(trace: bool) -> dict:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        # read once, at JVM launch
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')} -XX:-UsePerfData",
        "spark.eventLog.enabled": "true" if trace else "false",
    }
    if trace:
        conf.update({
            "spark.eventLog.dir": "file://" + os.path.join(WORK, "events"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def _session(ncpu: int, trace: bool = False):
    from featurescreening_jl_spark.plans.session import get_spark

    spark = get_spark("perfbench", parallelism=ncpu, shuffle_partitions=ncpu,
                      extra_conf=_spark_conf(trace))
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _descendants() -> set[int]:
    """Pids of every process below this one."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    found, todo = set(), [os.getpid()]
    while todo:
        for pid in children.get(todo.pop(), ()):
            found.add(pid)
            todo.append(pid)
    return found


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            state = fh.read().rsplit(")", 1)[1].split()[0]
    except (OSError, IndexError):
        return False
    if state == "Z":  # reap it if it is ours; init reaps orphans
        try:
            os.waitpid(pid, os.WNOHANG)
        except ChildProcessError:
            pass
        return False
    return True


def _wait_gone(pids: set[int], timeout: float) -> set[int]:
    """Wait up to ``timeout`` seconds for ``pids`` to end; the ones left."""
    deadline = time.monotonic() + timeout
    while True:
        left = {p for p in pids if _alive(p)}
        if not left or time.monotonic() > deadline:
            return left
        time.sleep(0.05)


def stop_spark() -> None:
    """Stop the Spark session and its JVM, and wait until the JVM and every
    process it started (Python workers) have ended. PySpark's own stop
    leaves the JVM running until this process exits, and a little after."""
    from pyspark import SparkContext

    procs = _descendants()
    sc = SparkContext._active_spark_context
    if sc is not None:
        sc.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        procs |= _descendants()
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    left = _wait_gone(procs, 30)
    for pid in left:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    left = _wait_gone(left, 30)
    if left:
        print(f"perfbench: processes still running after SIGKILL: {sorted(left)}",
              file=sys.stderr)


def _reset_outputs() -> None:
    for sub in ("checkpoint", "backfill"):
        shutil.rmtree(os.path.join(WORK, sub), ignore_errors=True)


def _read_files(path: str) -> None:
    """Read every file under ``path`` once, so it sits in the page cache."""
    for d, _, files in os.walk(path):
        for f in files:
            with open(os.path.join(d, f), "rb") as fh:
                while fh.read(1 << 20):
                    pass


def ensure_inputs(ncpu: int, wl, seed: int) -> tuple[str, dict]:
    """The seed's data directory and the workload's generation record,
    generating the inputs first (in a session of their own) when missing."""
    data_dir = wl.data_dir(os.path.join(BENCH_DIR, "data"), seed)
    meta_path = os.path.join(data_dir, f"{wl.name}.json")
    if os.path.exists(meta_path):
        with open(meta_path) as fh:
            meta = json.load(fh)
        log(f"input {wl.name} seed={seed} already generated ({meta['rows']} rows)")
        return data_dir, meta
    os.makedirs(data_dir, exist_ok=True)
    t0 = time.perf_counter()
    spark = _session(ncpu)
    try:
        meta = wl.generate(spark, seed, data_dir)
    finally:
        spark.stop()
    meta["gen_s"] = time.perf_counter() - t0
    with open(meta_path, "w") as fh:
        json.dump(meta, fh)
    log(f"generated {wl.name} seed={seed}: {meta['rows']} rows in "
        f"{meta['gen_s']:.2f} s (not in setup_s or job_s)")
    return data_dir, meta


def set_up(ncpu: int, ctx, wl) -> tuple[float, float]:
    """One set-up: session, input into the page cache, one small warm-up
    job on the warm input. Returns (set-up seconds, get_spark seconds)."""
    from perfbench.trace import Untraced

    t0 = time.perf_counter()
    ctx.spark = _session(ncpu)
    t1 = time.perf_counter()
    _read_files(ctx.input_path)
    _read_files(ctx.warm_path)
    wl.job(ctx, Untraced(), warm=True)
    return time.perf_counter() - t0, t1 - t0


def measure(ctx, wl, hooks, window: float) -> list[dict]:
    """Run jobs back to back; start another only while it is expected to
    end inside ``window`` seconds. The first job always runs."""
    from perfbench.workloads import CheckFailed

    jobs: list[dict] = []
    t_start = time.perf_counter()
    while True:
        _reset_outputs()
        rec = {"ok": False, "digest": None}
        t0 = time.perf_counter()
        try:
            with hooks.patched():
                out = wl.job(ctx, hooks)
            rec["s"] = time.perf_counter() - t0
            rec["digest"] = wl.check(ctx, out)
            rec["ok"] = True
        except CheckFailed as exc:
            log(f"job {len(jobs)} output is wrong: {exc}")
        except Exception:  # a failed job is counted, and the run goes on
            rec.setdefault("s", time.perf_counter() - t0)
            log(f"job {len(jobs)} failed:\n{traceback.format_exc()}")
        hooks.close_open()
        jobs.append(rec)
        log(f"job {len(jobs) - 1}: {rec['s']:.3f} s ok={rec['ok']} "
            f"digest={rec['digest']}")
        hooks.job += 1
        elapsed = time.perf_counter() - t_start
        typical = statistics.median(j["s"] for j in jobs)
        if elapsed + typical > window:
            return jobs


def _job_s(jobs: list[dict]) -> float:
    ok = [j["s"] for j in jobs if j["ok"]] or [j["s"] for j in jobs]
    return statistics.median(ok)


def _peak_rss_mb(spark) -> float:
    """Peak resident memory of this process plus the Spark JVM."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) / 1024


def traced_run(ncpu: int, ctx, wl, window: float) -> tuple[list[dict], dict]:
    """Timed jobs with tracing off, then traced jobs in a session with the
    event log on, then each lazy layer materialized alone. Returns all jobs
    and the per-layer metrics."""
    from perfbench import trace
    from perfbench.workloads import noop_with_count

    # two untraced calls: at least two jobs, so the second can stand
    # against the traced one (each follows a full-size job in this JVM)
    base = [*measure(ctx, wl, trace.Untraced(), window / 4),
            *measure(ctx, wl, trace.Untraced(), window / 4)]
    ctx.spark.stop()
    ctx.spark = _session(ncpu, trace=True)
    sc = ctx.spark.sparkContext
    app_id = sc.applicationId
    sc.setJobDescription(f"{trace.PREFIX}|warmup")
    wl.job(ctx, trace.Untraced(), warm=True)
    tracer = trace.Tracer(sc)
    traced = measure(ctx, wl, tracer, window / 2)
    iso_s = {}
    for layer, df in wl.isolated(ctx).items():
        sc.setJobDescription(f"{trace.PREFIX}|iso|{layer}")
        t0 = time.perf_counter()
        noop_with_count(df)
        iso_s[layer] = time.perf_counter() - t0
    sc.setJobDescription(None)
    rss = _peak_rss_mb(ctx.spark)
    ctx.spark.stop()  # closes the event log
    events = trace.read_event_log(os.path.join(WORK, "events", app_id))

    ks = [k for k, j in enumerate(traced) if j["ok"]] or list(range(len(traced)))
    summ = [trace.span_summary(tracer.spans, k) for k in ks]

    def med(key: str) -> float:
        return statistics.median(s[key] for s in summ)

    def ev(layer: str, key: str) -> float:
        return statistics.median(trace.job_layer(events, k, layer, key) for k in ks)

    def iso(layer: str, key: str) -> float:
        return events.get(f"{trace.PREFIX}|iso|{layer}", {}).get(key, 0.0)

    ckpts = med("checkpoints")
    m = {
        "window_features.isolated_s": (iso_s.get("window_features", 0.0), "s"),
        "window_features.exec_cpu_s": (iso("window_features", "cpu_s"), "s"),
        "window_features.shuffle_mb": (iso("window_features", "shuffle_mb"), "MB"),
        "window_features.spill_mb": (iso("window_features", "spill_mb"), "MB"),
        "asof_join.isolated_s": (iso_s.get("asof_join", 0.0), "s"),
        "asof_join.exec_cpu_s": (iso("asof_join", "cpu_s"), "s"),
        "asof_join.shuffle_mb": (iso("asof_join", "shuffle_mb"), "MB"),
        "screen.round1_s": (med("round1_s"), "s"),
        "screen.round_s": (med("round_s"), "s"),
        "screen.rounds": (med("rounds"), "count"),
        "screen.cache_mb": (med("cache_mb"), "MB"),
        "frame.labels_s": (med("labels_s"), "s"),
        "driver.plan_s": (med("plan_s"), "s"),
        "importance_dist.fit_s": (med("fit_s"), "s"),
        "importance_dist.python_s": (ev("fit", "python_s"), "s"),
        "importance_dist.to_python_mb": (ev("fit", "to_python_mb"), "MB"),
        "importance_dist.exec_cpu_s": (ev("fit", "cpu_s"), "s"),
        "importance_dist.split_count": (med("split_count"), "count"),
        "selection.select_s": (med("select_s"), "s"),
        "selection.kept_ratio": (med("kept_ratio"), "ratio"),
        "checkpoint.save_s": (med("checkpoint_s"), "s"),
        "checkpoint.write_mb": (ev("checkpoint", "output_mb"), "MB"),
        "checkpoint.jobs": (ev("checkpoint", "jobs") / ckpts if ckpts else 0.0,
                            "count"),
        "frame.sink_s": (med("sink_s"), "s"),
        "frame.save_s": (med("save_s"), "s"),
        "frame.write_mb": (ev("save", "output_mb"), "MB"),
        "frame.write_exec_s": (ev("save", "run_s"), "s"),
        "spark.exec_cpu_s": (ev("*", "cpu_s"), "s"),
        "spark.gc_s": (ev("*", "gc_s"), "s"),
        "spark.shuffle_mb": (ev("*", "shuffle_mb"), "MB"),
        "spark.tasks": (ev("*", "tasks"), "count"),
        "proc.peak_rss_mb": (rss, "MB"),
        "trace.job_s": (med("job_s"), "s"),
        # the first full-size job in a JVM runs 30-60% slower than the next
        # ones, so the traced job stands against the second untraced one
        "trace.overhead": (traced[0]["s"] / base[1]["s"], "ratio"),
        "trace.coverage": (med("coverage"), "ratio"),
    }
    return base + traced, m


def main(argv=None) -> int:
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=30.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.seed < 0:
        ap.error("--seed must be a non-negative integer (numpy seeds it)")
    if not _require_checkout():
        return 2

    ncpu = os.cpu_count() or 1
    _prepare_env(ncpu)
    try:
        result = _run(args, ncpu)
    finally:
        stop_spark()
    # last, so the JVM can no longer write after the result line
    print(json.dumps(result))
    return 0


def _run(args, ncpu: int) -> dict:
    """Set up, measure and check one workload; the result object."""
    from bench import parallel_interference  # the repo's host-condition kernel
    from perfbench.workloads import WORKLOADS, Ctx, load_pins

    interference = parallel_interference()  # before the JVM: no threads yet
    log(f"host.interference={interference} at {ncpu} processes")

    wl = WORKLOADS[args.workload]()
    data_dir, meta = ensure_inputs(ncpu, wl, args.seed)
    ctx = Ctx(spark=None, seed=args.seed, input_path=wl.input_path(data_dir),
              warm_path=wl.warm_path(data_dir), work_dir=WORK, meta=meta,
              pins=load_pins(PINS, wl.name))
    setups, starts = [], []
    for i in range(SETUPS):
        if i:
            ctx.spark.stop()
        s, g = set_up(ncpu, ctx, wl)
        setups.append(s)
        starts.append(g)
    log("set-ups: " + ", ".join(f"{s:.3f}" for s in setups) + " s")

    if args.trace:
        jobs, metrics = traced_run(ncpu, ctx, wl, args.seconds)
        metrics["session.start_s"] = (statistics.median(starts), "s")
        metrics["host.interference"] = (interference, "ratio")
    else:
        from perfbench.trace import Untraced

        jobs = measure(ctx, wl, Untraced(), args.seconds)
        ctx.spark.stop()
        job_s = _job_s(jobs)
        n_ok = sum(j["ok"] for j in jobs)
        metrics = {
            "setup_s": (statistics.median(setups), "s"),
            "job_s": (job_s, "s"),
            "rows_per_s": (meta["rows"] / job_s, "1/s"),
            "ok_ratio": (n_ok / len(jobs), "ratio"),
        }
    failed = sum(not j["ok"] for j in jobs)
    return {
        "correct": failed == 0,
        "attempted": len(jobs),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in sorted(metrics.items())},
    }


if __name__ == "__main__":
    sys.exit(main())
