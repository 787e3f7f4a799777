"""The repository benchmark: one command, one workload per process.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run it from the repository root. Workloads (see perfbench/README.md):
``interactive_mix`` and ``daily_ingest`` (gated by BENCHMARK.json), and
``heavy_analytics`` (runnable, not gated).

With ``--trace 0`` the timed loop runs untraced for S seconds and the
last stdout line reports the end-to-end metrics. With ``--trace 1`` the
loop runs S/2 seconds untraced, then the same ops run untraced, traced
and untraced again; the last line reports the per-layer metrics of the
traced replay, the span file is written under ``.perfbench/traces/``
and ``trace.overhead_s`` is the median, over ops, of an op's traced
latency minus the mean of its two untraced replays.

Every run works in its own dir under ``.perfbench/runs/`` (TMPDIR,
SPARK_LOCAL_DIRS, warehouse, tables, indexes) and deletes it at the
end. Two one-time steps run before it in processes of their own and
are not part of ``setup_s``: the input tables are built once per
checkout into ``.perfbench/data/`` (data.py), and a query mix is
compared in full against its DuckDB oracles once per program version
(oracle.py).
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
from reap import become_subreaper, stop_all, stop_spark  # noqa: E402

ROOT = os.path.dirname(HERE)
BASE = os.path.join(ROOT, ".perfbench")
PROGRAM = ("iceberg_twist_spark/__init__.py", "bench.py", "tools/check.py", "tools/gen_sf.py")
WORKLOADS = ("interactive_mix", "heavy_analytics", "daily_ingest")
DRIVER_MEMORY = "2g"


def tree_state(root: str) -> dict[str, tuple[int, int]]:
    """(size, mtime) of every file of the checkout outside the
    benchmark's own work dirs and other than this process's own
    stdout and stderr, should they be redirected into the checkout."""
    skip = {".perfbench", "__pycache__", ".git"}
    own = set()
    for fd in (1, 2):
        try:
            st = os.fstat(fd)
        except OSError:
            continue
        own.add((st.st_dev, st.st_ino))
    out = {}
    for d, dirs, files in os.walk(root):
        dirs[:] = [x for x in dirs if x not in skip]
        for f in files:
            p = os.path.join(d, f)
            st = os.lstat(p)
            if (st.st_dev, st.st_ino) not in own:
                out[os.path.relpath(p, root)] = (st.st_size, st.st_mtime_ns)
    return out


def timed_loop(wl, seconds: float, limit: int | None = None) -> tuple[list, float]:
    """Closed loop: ops 0, 1, ... back to back until ``seconds`` pass,
    rounded up to whole passes of ``wl.pass_len`` ops so every run sees
    each kind of op equally often; stops early after ``limit`` ops.
    With ``seconds=inf`` it runs exactly ``limit`` ops.
    Returns [(latency, Spark jobs run, error)] and the loop's wall time."""
    mark = wl.ctx.probe.mark
    results = []
    t0 = time.perf_counter()
    limit = wl.max_ops if limit is None else min(limit, wl.max_ops)
    while len(results) < limit and (
        time.perf_counter() - t0 < seconds or len(results) % wl.pass_len
    ):
        start, job0 = time.perf_counter(), mark()
        try:
            err = wl.run_op(len(results))
        except Exception as exc:  # noqa: BLE001 — a raising op is a failed op
            err = f"{type(exc).__name__}: {str(exc)[:300]}"
            traceback.print_exc(file=sys.stderr)
        results.append((time.perf_counter() - start, mark() - job0, err))
    return results, time.perf_counter() - t0


def sentinel(spark) -> float:
    """One reading of a fixed ``spark.range`` sum that runs no repo code."""
    q = spark.range(0, 50_000_000, numPartitions=8).selectExpr("sum(id)")
    q.collect()
    t0 = time.perf_counter()
    q.collect()
    return time.perf_counter() - t0


def oracle_check(data: str, names: list[str], scratch: str) -> list[str]:
    """oracle.py in a process of its own, with its own temp dirs, which
    are removed afterwards (the engine caches indexes under the temp
    dir, and a later build must not find them there)."""
    env = dict(os.environ)
    for var, sub in (("TMPDIR", "tmp"), ("SPARK_LOCAL_DIRS", "local")):
        env[var] = os.path.join(scratch, sub)
        os.makedirs(env[var])
    try:
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "oracle.py"), data, os.path.join(BASE, "cache"), *names],
            cwd=scratch, env=env, stdout=subprocess.PIPE, text=True, timeout=900,
        )
    finally:
        stop_all()  # its Spark JVM, which outlives it for a moment
        shutil.rmtree(scratch, ignore_errors=True)
    if out.returncode:
        return out.stdout.splitlines() or [f"oracle.py exited with {out.returncode}"]
    return []


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated run still stops Spark and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    missing = [p for p in PROGRAM if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: program files missing under {ROOT}: {missing}", file=sys.stderr)
        return 2
    # every process the run starts, and every process those leave
    # behind, is this one's to stop and wait for before it exits
    become_subreaper()

    sys.path.insert(0, ROOT)
    import workloads as W
    from plan import median, tail_percentile
    from probes import ProcTree, RssSampler, jvm_heap, load_stamp, nproc

    cores = max(1, min(nproc(), int(os.environ.get("SPARK_GRAFT_CPUS") or nproc())))
    work = os.path.join(BASE, "runs", f"{args.workload}-seed{args.seed}-{os.getpid()}")
    for sub in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cores),
        TMPDIR=os.path.join(work, "tmp"),
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        PYTHONDONTWRITEBYTECODE="1",
        # a fixed driver heap (see extraJavaOptions below) instead of
        # the engine's 8g default, which the workloads never come near
        SPARK_DRIVER_MEMORY=DRIVER_MEMORY,
    )
    tempfile.tempdir = None
    before = tree_state(ROOT)
    cwd = os.getcwd()
    os.chdir(work)
    stamp = {"N": cores, **load_stamp()}
    spark = sampler = None
    errors = []
    try:
        data = os.path.join(BASE, "data", "sf0.1")
        names = W.INTERACTIVE_MIX if args.workload == "interactive_mix" else W.HEAVY_ANALYTICS
        t_once = time.perf_counter()
        if not os.path.isdir(data):
            os.makedirs(os.path.dirname(data), exist_ok=True)
            try:
                subprocess.run([sys.executable, os.path.join(HERE, "data.py"), data], check=True, timeout=900)
            finally:
                stop_all()
        if args.workload != "daily_ingest":
            errors += oracle_check(data, names, os.path.join(work, "oracle"))
        one_time_s = time.perf_counter() - t_once
        sampler = RssSampler(ProcTree()).start()

        t = time.perf_counter()
        import pyspark  # noqa: F401

        from iceberg_twist_spark.registry import _load_all_modules

        _load_all_modules()
        import_s = time.perf_counter() - t
        from iceberg_twist_spark.session import get_spark

        t = time.perf_counter()
        spark = get_spark(
            "perfbench",
            extra_conf={
                # the heap is committed and touched at start-up (-Xms =
                # the 2g max, pre-touched), so the JVM's RSS is the whole
                # heap plus what lies outside it, and peak_rss_mb can
                # swap the heap's fixed part for what the program held
                "spark.driver.extraJavaOptions": (
                    f"-Djava.io.tmpdir={os.environ['TMPDIR']} "
                    f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch"
                ),
                "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
                "spark.ui.showConsoleProgress": "false",
            },
        )
        spark.sparkContext.setLogLevel("ERROR")
        get_spark_s = time.perf_counter() - t

        ctx = W.Ctx(spark, data, work, args.seed, cores)
        wl = W.DailyIngest(ctx) if args.workload == "daily_ingest" else W.QueryMix(ctx, names)
        errors += wl.setup()
        stamp["sentinel_s"] = sentinel(spark)
        setup_s = time.perf_counter() - T_START - one_time_s

        overhead, layers = None, {}
        if args.trace:
            # The first loop takes the warm-up left over from set-up.
            # Its ops then run three more times: untraced, traced,
            # untraced. Each traced op is compared with the mean of its
            # two untraced runs, which cancels a steady warm-up drift.
            first, _ = timed_loop(wl, args.seconds / 2)
            n = len(first)
            wl.restore()
            pre, _ = timed_loop(wl, float("inf"), limit=n)
            wl.restore()
            wl.start_tracing()
            traced, _ = timed_loop(wl, float("inf"), limit=n)
            wl.stop_tracing()
            layers = wl.layer_metrics()
            wl.restore()
            res_a, wall = timed_loop(wl, float("inf"), limit=n)
            overhead = median([t[0] - (b[0] + a[0]) / 2 for b, t, a in zip(pre, traced, res_a)])
            results = first + pre + traced + res_a
        else:
            res_a, wall = timed_loop(wl, args.seconds)
            results = res_a
        stamp["loadavg_end"] = load_stamp()["loadavg"]
        summary = wl.summary()
        heap_committed, heap_peaks = jvm_heap(spark)
    except Exception:  # noqa: BLE001 — no result line when the run itself broke
        traceback.print_exc()
        return 1
    finally:
        peak = sampler.stop() if sampler is not None else {}
        try:
            if spark is not None:
                stop_spark(spark)
        finally:
            left = stop_all()
            os.chdir(cwd)
            shutil.rmtree(work, ignore_errors=True)
    if left:
        print(f"perfbench: processes still running after the run: {left}", file=sys.stderr)
        return 1

    failures = errors + [e for *_, e in results if e]
    after = tree_state(ROOT)
    changed = sorted(p for p in set(before) | set(after) if before.get(p) != after.get(p))
    if changed:
        failures.append(f"run changed checkout files: {changed[:5]}")
    lat = [t for t, _, e in res_a if e is None]
    # The heap is committed and touched at start-up, so it is a fixed
    # part of the JVM's RSS. The program's share of it is the most the
    # survivor and old pools held: eden's peak is the young generation's
    # size, which the collector sets (its cap, 60% of the heap, in every
    # run measured) whatever the program keeps. Everything outside the
    # heap counts at its peak RSS as sampled.
    heap_used = sum(v for k, v in heap_peaks.items() if "Eden" not in k)
    e2e = {
        "setup_s": setup_s,
        "jobs_per_op": sum(j for _, j, _ in res_a) / len(res_a),
        "peak_rss_mb": (peak["total"] - heap_committed + heap_used) / 2**20,
    }
    loop = {
        "loop.op_p50_s": median(lat) if lat else 0.0,
        "loop.ops_per_s": len(res_a) / wall,
    }
    per_layer = dict.fromkeys(W.LAYER_METRICS, 0.0)
    per_layer.update(layers)
    per_layer.update(
        {
            "session.import_s": import_s,
            "session.get_spark_s": get_spark_s,
            "proc.jvm_rss_mb": (peak["jvm"] - heap_committed + heap_used) / 2**20,
            "proc.python_rss_mb": peak["python"] / 2**20,
            "trace.overhead_s": overhead or 0.0,
            "trace.spans": len(ctx.tracer.spans),
            **loop,
        }
    )
    extra = {
        **loop,
        "op_samples": len(lat),
        "op_p90_s": tail_percentile(lat, 0.9),
        "failed_ops_ratio": sum(1 for *_, e in results if e) / max(1, len(results)),
        "one_time_s": one_time_s,
        **{f"peak_{k}_mb": v / 2**20 for k, v in peak.items()},
        "heap_committed_mb": heap_committed / 2**20,
        **{f"heap_peak_{k.replace(' ', '_')}_mb": v / 2**20 for k, v in heap_peaks.items()},
        **summary,
    }
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "stamp": stamp,
        "end_to_end": e2e,
        "per_layer": per_layer if args.trace else None,
        "extra": extra,
        "failures": failures,
        "op_latencies_s": [t for t, _, _ in results],
    }
    out_dir = os.path.join(BASE, "traces" if args.trace else "results")
    os.makedirs(out_dir, exist_ok=True)
    tag = f"{args.workload}-seed{args.seed}"
    with open(os.path.join(out_dir, f"{tag}.json"), "w", encoding="utf-8") as fh:
        json.dump(record, fh, indent=1, default=str)
    if args.trace:
        ctx.tracer.write(os.path.join(out_dir, f"{tag}.spans.jsonl"))

    print(f"# {args.workload} seed={args.seed} N={cores} nproc={stamp['nproc']} "
          f"loadavg={stamp['loadavg']}->{stamp['loadavg_end']} sentinel_s={stamp['sentinel_s']:.4f}")
    for name, v in e2e.items():
        print(f"{name} {v:.6g} {W.END_TO_END[name][0]}")
    for name, v in extra.items():
        if isinstance(v, (int, float)) or v is None:
            print(f"# {name} {v}")
    if args.trace:
        for name, v in per_layer.items():
            print(f"{name} {v:.6g} {W.LAYER_METRICS[name][0]}")
    for f in failures:
        print(f"FAIL {f}")
    shown = per_layer if args.trace else e2e
    units = W.LAYER_METRICS if args.trace else W.END_TO_END
    print(
        json.dumps(
            {
                "correct": not failures,
                "attempted": len(results),
                "failed": sum(1 for *_, e in results if e),
                "metrics": {k: {"value": v, "unit": units[k][0]} for k, v in shown.items()},
            }
        )
    )
    return 0 if not failures else 1


if __name__ == "__main__":
    sys.exit(main())
