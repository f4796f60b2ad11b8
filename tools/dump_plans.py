"""Dump ``explain("formatted")`` for named queries into a plans directory.

Usage:
    python tools/dump_plans.py --out plans/r13 before dedup_exact_substring dedup_lsh_eval ...
    python tools/dump_plans.py --out plans/r13 after --headline   # the bench.py HEADLINE set

Writes ``<out>/<query>_<suffix>.txt`` — the before/after plan evidence an
optimization claim is checked against.  ``--out`` is relative to the repo
root unless absolute.
"""

from __future__ import annotations

import argparse
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from dataframework_spark.catalog import DEFAULT_SF_DIR  # noqa: E402
from dataframework_spark.plans.explain import plan_string  # noqa: E402
from dataframework_spark.registry import all_queries  # noqa: E402
from dataframework_spark.session import get_spark  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--out", required=True, help="output directory, e.g. plans/r13")
    ap.add_argument("--headline", action="store_true", help="add the bench.py HEADLINE set")
    ap.add_argument("suffix", choices=("before", "after"))
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()
    names = list(args.names)
    if args.headline:
        from bench import HEADLINE

        names += list(HEADLINE)
    # same default scale as bench.py
    sf_dir = os.environ.get(
        "SPARK_GRAFT_SF_DIR", os.path.join(os.path.dirname(DEFAULT_SF_DIR), "sf0.1")
    )
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or (os.cpu_count() or 4)
    out_dir = os.path.join(ROOT, args.out)
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark(app_name="dfx-dump-plans", cpus=cpus)
    specs = all_queries()
    for name in names:
        if name not in specs:
            print(f"SKIP unknown query {name}", file=sys.stderr)
            continue
        df = specs[name].fn(spark, sf_dir)
        txt = plan_string(df, mode="formatted")
        path = os.path.join(out_dir, f"{name}_{args.suffix}.txt")
        with open(path, "w") as f:
            f.write(txt)
        spark.catalog.clearCache()
        print(f"wrote {path} ({len(txt)} bytes)")
    spark.stop()


if __name__ == "__main__":
    main()
