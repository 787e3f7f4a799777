"""Full oracle comparison of a query mix, once per program version.

Usage: python3 perfbench/oracle.py SF_DIR CACHE_DIR QUERY [QUERY ...]

Runs ``tools/check.py``'s ``compare`` for every query against its
DuckDB oracle, in a Spark session of its own. A pass is remembered in
CACHE_DIR under a digest of the package, ``tools/check.py``, the query
list and the input tables, so the comparison runs once per checkout and
program version. Exits 0 when every query matches (or a pass is on
record), 1 after printing one line per mismatch.

The benchmark runs this as a separate process before its timed run, so
the comparison's JIT warm-up, collected results and Spark jobs never
show in the run's set-up time, memory or job counts.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def program_digest(sf_dir: str, names: list[str]) -> str:
    """Digest of the package, the oracle harness, the query list and
    the input tables' file names and sizes."""
    pkg = os.path.join(ROOT, "iceberg_twist_spark")
    h = hashlib.sha256("\n".join(names).encode())
    files = [os.path.join(ROOT, "tools", "check.py")]
    for d, _, fs in sorted(os.walk(pkg)):
        files += [os.path.join(d, f) for f in sorted(fs) if f.endswith(".py")]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    for d, _, fs in sorted(os.walk(sf_dir)):
        for f in sorted(fs):
            path = os.path.join(d, f)
            h.update(f"{os.path.relpath(path, sf_dir)}:{os.path.getsize(path)}".encode())
    return h.hexdigest()[:16]


def main() -> int:
    sf_dir, cache, *names = sys.argv[1:]
    marker = os.path.join(cache, f"oracle-{program_digest(sf_dir, names)}.json")
    if os.path.exists(marker):
        return 0
    sys.path.insert(0, ROOT)
    from iceberg_twist_spark.registry import _load_all_modules
    from iceberg_twist_spark.session import get_spark
    from tools.check import compare, duck_connection

    _load_all_modules()
    spark = get_spark(
        "perfbench-oracle",
        extra_conf={
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tempfile.gettempdir()}",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    con = duck_connection(sf_dir)
    errors, passed = [], {}
    try:
        spark.sparkContext.setLogLevel("ERROR")
        for name in names:
            try:
                ok, msg, _ = compare(name, spark, con, sf_dir)
            except Exception as exc:  # noqa: BLE001 — reported as a failed check
                ok, msg = False, f"{type(exc).__name__}: {str(exc)[:200]}"
            if ok:
                passed[name] = msg
            else:
                errors.append(f"{name}: oracle check failed: {msg}")
    finally:
        con.close()
        spark.stop()
    for e in errors:
        print(e)
    if errors:
        return 1
    os.makedirs(cache, exist_ok=True)
    with open(marker, "w", encoding="utf-8") as fh:
        json.dump(passed, fh, indent=1)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
