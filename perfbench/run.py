"""End-to-end and per-layer benchmark of the dfx query engine.

Run from the root of a checkout::

    python3 perfbench/run.py --workload interactive --seed 1 --seconds 10 --trace 0

One process runs one workload: a single client in a closed loop on
local[nproc], reading the engine's read-only test tables (the directory
that holds ``catalog.DEFAULT_SF_DIR``).  Each call is timed from
``specs[name].fn(spark, sf_dir)`` (or the ``PreProcessEngine`` calls) until
its last row reaches the noop sink.  The timed calls of each workload are a
fixed panel listed in ``workloads.json``; ``--seed`` sets the order of every
pass and the CV experiment's permutation number.

* Set-up (``setup_s``) runs from process start through session, registry
  import and the workload's fixed warm-up query, once, cold.
* An untimed first pass builds every call of the panel and compares its
  result with its DuckDB twin (``tests/oracle_utils.compare``); a CV
  experiment is checked by its row counts.
* Timed passes over the panel follow, warm, until ``--seconds`` of calls
  have run.  An untouched control runs before and after every pass.
* ``--trace 1`` makes four passes, the third traced, and reports the
  per-layer metrics (``tracing.py``) instead of the end-to-end ones.

The last stdout line is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``; the line before it, and a file under
``.bench_out/``, carry the details (panel, warm-up, every timed sample,
failures by name, controls, and in traced runs each call's layer numbers
and spans).
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import sys
import tempfile
import time

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

CV_CONFIG = {"cv": 5, "train": 0.7, "extend": True, "center": True}
CV_CALL = "facade_cv"


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def cores() -> int:
    return len(os.sched_getaffinity(0))


def load_config() -> dict:
    with open(os.path.join(HERE, "workloads.json")) as f:
        return json.load(f)


def pass_order(names: list[str], seed: int, pass_no: int) -> list[str]:
    order = list(names)
    random.Random(seed * 1_000_003 + pass_no).shuffle(order)
    return order


# -- calls -------------------------------------------------------------------


def query_op(spark, spec, sf_dir):
    def op(tr):
        with tr.span("build"):
            df = spec.fn(spark, sf_dir)
        tr.sink(df)
        return df

    return op


def cv_op(spark, sf_dir, no):
    """One reference CV experiment: generator(no) then every fold."""

    def op(tr):
        from dataframework_spark.facade import PreProcessEngine

        config = {"database": {"name": "embeddings", "root": sf_dir}, "process": CV_CONFIG}
        with tr.span("build"), tr.span("facade.init"):
            engine = PreProcessEngine(spark, config)
        with tr.span("build"), tr.span("facade.plan"):
            frames = list(engine.generator(no=no))
        for df in frames:
            tr.sink(df)
        for fold in range(CV_CONFIG["cv"]):
            with tr.span("build"), tr.span("facade.plan"):
                pair = engine.get_cv_data(fold)
            for df in pair:
                tr.sink(df)
            frames.extend(pair)
        return frames

    return op


def check_cv(spark, sf_dir, frames) -> list[str]:
    """Row-count invariants of one CV experiment: train and test partition
    the table, and every fold's train and test partition the train set.
    All counts come from one job over the union of the frames."""
    from pyspark.sql import functions as F

    tagged = [df.select(F.lit(i).alias("frame")) for i, df in enumerate(frames)]
    table = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    tagged.append(table.select(F.lit(len(frames)).alias("frame")))
    union = tagged[0]
    for df in tagged[1:]:
        union = union.unionByName(df)
    counts = dict(union.groupBy("frame").count().collect())
    n = [counts.get(i, 0) for i in range(len(tagged))]
    n_rows = n.pop()
    problems = []
    if n[0] + n[1] != n_rows:
        problems.append(f"train {n[0]} + test {n[1]} != {n_rows} rows")
    folds = list(zip(n[2::2], n[3::2]))
    for fold, (a, b) in enumerate(folds):
        if a + b != n[0]:
            problems.append(f"fold {fold}: {a} + {b} != train {n[0]}")
    if sum(b for _, b in folds) != n[0]:
        problems.append(f"fold tests sum to {sum(b for _, b in folds)}, train is {n[0]}")
    return problems


def control(spark) -> float:
    """Untouched box-throttle control: a fixed Spark aggregate plus a
    pure-Python loop."""
    t0 = time.perf_counter()
    spark.range(2_000_000).selectExpr("sum(id * 7 % 13) AS s").collect()
    acc = 0
    for i in range(2_000_000):
        acc += i & 7
    return time.perf_counter() - t0


# -- set-up ------------------------------------------------------------------


class Bench:
    def __init__(self, args, root: str) -> None:
        cfg = load_config()
        if args.workload not in cfg["workloads"]:
            fail(f"unknown workload {args.workload!r}; have {sorted(cfg['workloads'])}")
        self.args = args
        self.root = root
        self.wl = cfg["workloads"][args.workload]
        from dataframework_spark.catalog import DEFAULT_SF_DIR

        self.sf_dir = os.path.join(os.path.dirname(DEFAULT_SF_DIR), self.wl["sf"])
        if not os.path.isfile(os.path.join(self.sf_dir, "lineitem.parquet")):
            fail(f"input tables not found under {self.sf_dir}")
        self.tmp = os.path.join(root, ".bench_tmp", f"{args.workload}-{os.getpid()}")
        os.makedirs(self.tmp, exist_ok=True)
        # every temporary file (Python, the JVM's streaming checkpoints, Spark's
        # shuffle and spill) goes under the checkout and is removed at exit
        os.environ["TMPDIR"] = self.tmp
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.tmp, "spark")
        os.environ["SPARK_SUBMIT_OPTS"] = f"{os.environ.get('SPARK_SUBMIT_OPTS', '')} -Djava.io.tmpdir={self.tmp}"
        tempfile.tempdir = self.tmp
        self.spark = None

    def conf(self) -> dict[str, str]:
        return {
            "spark.ui.enabled": "false",
            # keep every job, stage and execution of the run in the status
            # store, so a traced call can find its own by position
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
        }

    def setup(self) -> None:
        """Session, registry import and the workload's warm-up query."""
        from dataframework_spark.registry import all_queries
        from dataframework_spark.session import get_spark

        self.spark = get_spark(app_name=f"perfbench-{self.args.workload}", cpus=cores(), extra_conf=self.conf())
        self.specs = all_queries()
        missing = [n for n in self.wl["panel"] + [self.wl["warmup"]] if n not in self.specs]
        if missing:
            fail(f"not in the query registry: {missing}")
        self.calls = list(self.wl["panel"]) + ([CV_CALL] if self.wl["facade_cv"] else [])
        from tracing import NullTracer

        query_op(self.spark, self.specs[self.wl["warmup"]], self.sf_dir)(NullTracer())
        self.spark.catalog.clearCache()

    def close(self) -> None:
        """Stop the session, then the JVM this process launched, and wait
        for it; Python workers leave with their JVM."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=120)

    def op(self, name: str):
        if name == CV_CALL:
            return cv_op(self.spark, self.sf_dir, self.args.seed)
        return query_op(self.spark, self.specs[name], self.sf_dir)

    # -- output check ------------------------------------------------------

    def check(self, name: str, result) -> list[str]:
        if name == CV_CALL:
            return check_cv(self.spark, self.sf_dir, result)
        from tests.oracle_utils import compare

        return compare(result, self.duck(), self.specs[name].oracle)

    def duck(self):
        if not hasattr(self, "_duck"):
            import duckdb

            from dataframework_spark.catalog import TABLES, table_path

            self._duck = duckdb.connect()
            for t in TABLES:
                path = table_path(self.sf_dir, t)
                self._duck.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        return self._duck


def tail(samples: list[float]) -> tuple[float, float, int]:
    """Latency at the highest percentile with at least ten samples beyond
    it: (value, percentile, sample count); the maximum below 11 samples."""
    s = sorted(samples)
    k = max(len(s) - 11, 0) if len(s) >= 11 else len(s) - 1
    return s[k], 100.0 * (k + 1) / len(s), len(s)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=load_config()["default_seed"])
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "dataframework_spark", "registry.py")):
        fail(f"no dataframework_spark/ under {root}; run from the root of a checkout")
    if not os.path.isfile(os.path.join(root, "tests", "oracle_utils.py")):
        fail(f"no tests/oracle_utils.py under {root}")
    sys.path.insert(0, root)

    bench = Bench(args, root)
    try:
        details, metrics, attempted, failed = measure(bench, args)
    finally:
        bench.close()
        shutil.rmtree(bench.tmp, ignore_errors=True)
    write_details(root, args, details)
    print(json.dumps(details, default=str))
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0


def check_pass(bench: Bench, failures: dict[str, str]) -> int:
    """Untimed first pass: build every call (eager work included), hand its
    result straight to the output check instead of the sink, and record
    what failed.  Returns the number of failed calls."""
    from tracing import NullTracer

    class NoSink(NullTracer):
        def sink(self, df) -> None:
            pass

    failed = 0
    for name in bench.calls:
        try:
            problems = bench.check(name, bench.op(name)(NoSink()))
        except Exception as exc:  # a raise in the call or the check counts as failed
            problems = [f"{type(exc).__name__}: {str(exc)[:300]}"]
        if problems:
            failed += 1
            failures[name] = "; ".join(problems)[:600]
        bench.spark.catalog.clearCache()
    return failed


def measure(bench: Bench, args) -> tuple[dict, dict, int, int]:
    """Set-up, check pass and timed passes: (details, metrics, attempted, failed)."""
    from tracing import NullTracer, Tracer, call_layers

    bench.setup()
    setup_s = time.perf_counter() - T_START
    spark = bench.spark

    failures: dict[str, str] = {}
    t0 = time.perf_counter()
    failed = check_pass(bench, failures)
    check_s = time.perf_counter() - t0
    attempted = len(bench.calls)

    null = NullTracer()
    tracer = Tracer(spark) if args.trace else None
    samples: dict[str, list[float]] = {n: [] for n in bench.calls}
    pass_totals: dict[bool, list[float]] = {False: [], True: []}
    traced_passes: list[list[dict]] = []
    controls: list[float] = []
    measured = 0.0
    pass_no = 0
    # A traced run makes four passes: untraced, untraced, traced, untraced.
    # The first finishes warming (the check pass never wrote to the sink, and
    # the first timed pass runs about a fifth slower than the next), so it is
    # left out of the overhead; the traced pass then sits between two
    # untraced ones and the overhead compares like with like.
    while (pass_no < 4) if args.trace else (pass_no < bench.wl["min_passes"] or measured < args.seconds):
        traced = bool(args.trace) and pass_no == 2
        controls.append(control(spark))
        if traced:
            tracer.install()
            tracer.calls = []
        total = 0.0
        for name in pass_order(bench.calls, args.seed, pass_no):
            op = bench.op(name)
            attempted += 1
            if traced:
                lat, err = tracer.run(name, op)
            else:
                err = None
                t0 = time.perf_counter()
                try:
                    op(null)
                except Exception as exc:  # counted as a failed call
                    err = exc
                lat = time.perf_counter() - t0
                samples[name].append(lat)
            total += lat
            if err is not None:
                failed += 1
                failures.setdefault(name, f"{type(err).__name__}: {str(err)[:300]}")
            spark.catalog.clearCache()
        if traced:
            tracer.remove()
            traced_passes.append(tracer.calls)
        controls.append(control(spark))
        if not (args.trace and pass_no == 0):
            pass_totals[traced].append(total)
        measured += total
        pass_no += 1

    details = {
        "workload": args.workload,
        "seed": args.seed,
        "sf": bench.wl["sf"],
        "cores": cores(),
        "panel": bench.wl["panel"],
        "warmup": bench.wl["warmup"],
        "timed_passes": pass_no,
        "setup_s": setup_s,
        "check_s": check_s,
        "controls_s": controls,
        "failures": failures,
        "samples_s": samples,
    }
    if args.trace:
        with open(os.path.join(bench.root, "BENCHMARK.json")) as f:
            per_layer = json.load(f)["per_layer"]
        metrics = layer_metrics(per_layer, traced_passes, pass_totals, controls, call_layers)
        # the layers each call of the first traced pass touched, by name
        details["per_call"] = {
            c["name"]: {k: v for k, v in call_layers(c).items() if k != "_batch_s" and v} for c in traced_passes[0]
        }
        details["calls"] = [
            {k: c[k] for k in ("name", "start", "end", "spans", "jobs", "batches")} for p in traced_passes for c in p
        ]
    else:
        lat = [x for v in samples.values() for x in v]
        tail_s, tail_pct, n = tail(lat)
        details.update(tail_percentile=tail_pct, samples=n)
        metrics = {
            "setup_s": (setup_s, "s"),
            "e2e_total_s": (sum(statistics.median(v) for v in samples.values()), "s"),
            "e2e_p50_s": (statistics.median(lat), "s"),
            "e2e_tail_s": (tail_s, "s"),
        }
    return details, metrics, attempted, failed


def layer_metrics(per_layer, traced_passes, pass_totals, controls, call_layers) -> dict:
    per_pass = []
    for calls, total in zip(traced_passes, pass_totals[True]):
        agg: dict[str, float] = {}
        batch_s: list[float] = []
        for rec in calls:
            for k, v in call_layers(rec).items():
                if k == "_batch_s":
                    batch_s.extend(v)
                else:
                    agg[k] = agg.get(k, 0.0) + v
        agg["catalog.share"] = agg["catalog.s"] / total if total else 0.0
        agg["exec.util"] = agg["exec.run_s"] / (agg["exec.s"] * cores()) if agg["exec.s"] else 0.0
        agg["stream.batch_p50_s"] = statistics.median(batch_s) if batch_s else 0.0
        agg["mem.jvm_heap_peak_bytes"] = max(c["heap_peak"] for c in calls)
        per_pass.append(agg)
    metrics = {}
    for m in per_layer:
        if m["name"] in per_pass[0]:
            value = statistics.median(p[m["name"]] for p in per_pass)
            metrics[m["name"]] = (round(value) if m["unit"] in ("count", "bytes") else value, m["unit"])
    metrics["box.control_s"] = (statistics.median(controls), "s")
    metrics["trace.overhead"] = (
        statistics.median(pass_totals[True]) / statistics.median(pass_totals[False]) - 1.0,
        "ratio",
    )
    return metrics


def write_details(root: str, args, details: dict) -> None:
    out = os.path.join(root, ".bench_out")
    os.makedirs(out, exist_ok=True)
    path = os.path.join(out, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(path, "w") as f:
        json.dump(details, f, default=str)


if __name__ == "__main__":
    sys.exit(main())
