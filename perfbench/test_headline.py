"""Check the traced path against ``bench.py`` on its 17 headline queries.

Run from the root of a checkout (takes about five minutes at sf0.1)::

    python3 -m pytest perfbench/test_headline.py -q -s

``bench.py`` runs unchanged in a subprocess, once before and once after the
same names run in this process through the traced path, with the same
warm-up and the same three repetitions ``bench.py`` does.  The summed
per-query median of ``exec.s`` (the noop-sink write, the span ``bench.py``
times) must be within noise of ``bench.py``: between the two ``bench.py``
headlines, widened on each side by their difference, which is ``bench.py``'s
own run-to-run noise on this host.  The call-to-sink total of the same calls
(``e2e_total_s``) is written next to the ``bench.py`` numbers in
``.bench_out/headline.json``.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

from dataframework_spark.catalog import DEFAULT_SF_DIR  # noqa: E402

SF_DIR = os.path.join(os.path.dirname(DEFAULT_SF_DIR), "sf0.1")  # bench.py's default
REPS = 3


def run_bench_py() -> dict:
    env = dict(os.environ, SPARK_GRAFT_SF_DIR=SF_DIR, BENCH_REPS=str(REPS))
    env["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    out = subprocess.run(
        [sys.executable, "bench.py"], cwd=ROOT, env=env, capture_output=True, text=True, timeout=900
    )
    assert out.returncode == 0, out.stderr[-2000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


def run_traced_path() -> dict:
    from run import query_op
    from tracing import NullTracer, Tracer, call_layers

    from bench import HEADLINE
    from dataframework_spark.registry import all_queries
    from dataframework_spark.session import get_spark

    retain = {"spark.ui.retainedJobs": "100000", "spark.sql.ui.retainedExecutions": "100000"}
    spark = get_spark(app_name="perfbench-headline", cpus=len(os.sched_getaffinity(0)), extra_conf=retain)
    try:
        specs = all_queries()
        names = [n for n in HEADLINE if n in specs]
        # bench.py's own warm-up, then its repetitions, each call traced
        spark.range(1000).selectExpr("sum(id)").collect()
        query_op(spark, specs["q6_revenue_forecast"], SF_DIR)(NullTracer())
        spark.range(64).toDF("x").mapInPandas(lambda it: it, "x bigint").write.format("noop").mode(
            "overwrite"
        ).save()
        tracer = Tracer(spark)
        tracer.install()
        exec_s: dict[str, list[float]] = {n: [] for n in names}
        e2e_s: dict[str, list[float]] = {n: [] for n in names}
        for _ in range(REPS):
            for name in names:
                latency, err = tracer.run(name, query_op(spark, specs[name], SF_DIR))
                assert err is None, f"{name}: {err!r}"
                exec_s[name].append(call_layers(tracer.calls[-1])["exec.s"])
                e2e_s[name].append(latency)
                spark.catalog.clearCache()
        tracer.remove()
    finally:
        spark.stop()
    return {
        "exec_s": {n: statistics.median(v) for n, v in exec_s.items()},
        "e2e_s": {n: statistics.median(v) for n, v in e2e_s.items()},
    }


def test_exec_span_matches_bench_py():
    before = run_bench_py()
    ours = run_traced_path()
    after = run_bench_py()
    exec_total = sum(ours["exec_s"].values())
    e2e_total = sum(ours["e2e_s"].values())
    headlines = sorted([before["value"], after["value"]])
    noise = headlines[1] - headlines[0]
    low, high = headlines[0] - noise, headlines[1] + noise
    report = {
        "sf": before["sf"],
        "cpus": before["cpus"],
        "reps": REPS,
        "bench_py_headlines_s": [before["value"], after["value"]],
        "accepted_s": [low, high],
        "traced_exec_s": exec_total,
        "e2e_total_s": e2e_total,
        "per_query": {
            n: {
                "bench_py": [before["queries"][n], after["queries"][n]],
                "exec_s": ours["exec_s"][n],
                "e2e_s": ours["e2e_s"][n],
            }
            for n in ours["exec_s"]
        },
    }
    os.makedirs(os.path.join(ROOT, ".bench_out"), exist_ok=True)
    with open(os.path.join(ROOT, ".bench_out", "headline.json"), "w") as f:
        json.dump(report, f, indent=1)
    print(json.dumps({k: v for k, v in report.items() if k != "per_query"}))
    assert len(ours["exec_s"]) == 17
    assert low <= exec_total <= high, f"traced exec.s {exec_total:.3f} s outside [{low:.3f}, {high:.3f}] s"
