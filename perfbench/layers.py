"""Per-query layer split: where one registered query spends its time.

    python3 perfbench/layers.py SF_DIR QUERY [QUERY ...]

Runs each query twice, once to warm the JVM and once with the
benchmark's tracing on, and prints one row per query from the traced
run: catalog, registry builder self time, planning, action and
Python-kernel CPU, with the Spark jobs, stages and tasks behind each.
The split comes from the same spans and status-store readings as the
traced benchmark run (perfbench/workloads.py). Run it from the
repository root; scratch files go to a temp dir that is removed.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

COLUMNS = [
    # header, per-layer metric, format
    ("catalog_s", "catalog.load_tables_s", "{:.3f}"),
    ("cat_calls", "catalog.load_tables_calls", "{:.0f}"),
    ("cat_jobs", "catalog.jobs", "{:.0f}"),
    ("builder_self_s", "registry.builder_self_s", "{:.3f}"),
    ("b_jobs", "registry.builder_jobs", "{:.0f}"),
    ("b_stages", "registry.builder_stages", "{:.0f}"),
    ("plan_s", "action.plan_s", "{:.3f}"),
    ("action_s", "action.s", "{:.3f}"),
    ("a_jobs", "action.jobs", "{:.0f}"),
    ("a_stages", "action.stages", "{:.0f}"),
    ("a_tasks", "action.tasks", "{:.0f}"),
    ("exec_run_s", "action.executor_run_s", "{:.2f}"),
    ("exec_cpu_s", "action.executor_cpu_s", "{:.2f}"),
    ("gc_s", "action.gc_s", "{:.2f}"),
    ("shuffle_w_B", "action.shuffle_write_bytes", "{:.0f}"),
    ("fetch_wait_s", "action.shuffle_fetch_wait_s", "{:.2f}"),
    ("py_cpu_s", "kernels.python_worker_cpu_s", "{:.2f}"),
]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("sf_dir")
    ap.add_argument("queries", nargs="+")
    args = ap.parse_args()

    from iceberg_twist_spark.registry import REGISTRY, _load_all_modules

    _load_all_modules()
    unknown = [q for q in args.queries if q not in REGISTRY]
    if unknown:
        print(f"unknown queries: {unknown}", file=sys.stderr)
        return 2
    from iceberg_twist_spark.session import get_spark
    from probes import load_stamp, nproc
    from reap import become_subreaper, stop_spark
    from workloads import Ctx, QueryMix

    cores = max(1, min(nproc(), int(os.environ.get("SPARK_GRAFT_CPUS") or nproc())))
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    work = tempfile.mkdtemp(prefix="perfbench-layers-")
    os.environ.update(TMPDIR=work, SPARK_LOCAL_DIRS=work)
    tempfile.tempdir = None
    become_subreaper()
    spark = get_spark("perfbench-layers", extra_conf={"spark.ui.showConsoleProgress": "false"})
    try:
        spark.sparkContext.setLogLevel("ERROR")
        ctx = Ctx(spark, os.path.abspath(args.sf_dir), work, seed=0, cores=cores)
        mix = QueryMix(ctx, args.queries)
        rows = []
        for name in args.queries:
            mix.run_query(name, len(rows))
            mix.start_tracing()
            stamp = load_stamp()
            mix.run_query(name, len(rows))
            mix.stop_tracing()
            rows.append((name, stamp))
        split = mix.split_ops()
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    print(f"# N={cores} sf_dir={args.sf_dir}")
    print("\t".join(["query", *[c[0] for c in COLUMNS], "loadavg"]))
    for (name, stamp), s in zip(rows, split):
        cells = [fmt.format(s[key]) for _, key, fmt in COLUMNS]
        print("\t".join([name, *cells, str(stamp["loadavg"][0])]))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
