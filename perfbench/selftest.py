"""Small-size self-test of the benchmark itself.

    python3 perfbench/selftest.py

Checks, in one Spark session with the event log on:
  - BENCHMARK.json names exactly the metrics run.py reports, with the
    same units;
  - inputs regenerated from the same seed have the same fingerprint, and
    a different seed gives different inputs;
  - one repetition of every workload at "selftest" size passes its
    output checks, and each result table, perturbed in one row, fails
    them;
  - the event-log parser attributes the repetition's Spark jobs to the
    layers the workload calls.
Exits 0 when every check passes.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from perfbench import inputs, run  # noqa: E402
from perfbench.tracing import SPARK_METRICS, Tracer, spark_layer_metrics  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

SEED = 7
# (output table, column, how to break one row); None column drops a row
PERTURB = {
    "powerlaw_graph": [
        ("pagerank", "score", lambda v: v + 1e-3),
        ("wcc", "component", lambda v: v + 1),
        ("lpa", "label", lambda v: v + 1),
        ("triangle", "triangles", lambda v: v + 1),
    ],
    "corpus_pipeline": [
        ("catalog/imports/nodes", "content_sha256", lambda v: "0" * 64),
        ("catalog/imports/edges", None, None),
        ("pagerank", "score", lambda v: v * 1.01),
    ],
}
LAYERS_USED = {
    "powerlaw_graph": {"sources", "pagerank", "wcc", "lpa", "triangle"},
    "corpus_pipeline": {"sources", "plans", "csr", "pagerank", "checkpoint"},
}


def check_benchmark_json(failures: list[str]) -> None:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    declared_e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    declared_layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    reported_layer = dict(run.PER_LAYER)
    for layer in run.LAYERS:
        for name, unit in SPARK_METRICS:
            reported_layer[f"spark.{layer}.{name}"] = unit
    if declared_e2e != run.END_TO_END:
        failures.append(f"end_to_end metrics: BENCHMARK.json {declared_e2e} != run.py {run.END_TO_END}")
    if declared_layer != reported_layer:
        diff = set(declared_layer.items()) ^ set(reported_layer.items())
        failures.append(f"per_layer metrics differ between BENCHMARK.json and run.py: {sorted(diff)}")
    if {w["name"] for w in spec["workloads"]} != set(WORKLOADS):
        failures.append("BENCHMARK.json workloads differ from perfbench.workloads.WORKLOADS")


def perturb(path: str, column: str | None, change) -> None:
    df = inputs.read_table(path)
    if column is None:
        df = df.iloc[1:]
    else:
        df.loc[df.index[0], column] = change(df[column].iloc[0])
    shutil.rmtree(path)
    os.makedirs(path)
    df.to_parquet(os.path.join(path, "part-0.parquet"), index=False)


def main() -> int:
    failures: list[str] = []
    check_benchmark_json(failures)

    cache = os.path.join(run.CACHE, "selftest")
    shutil.rmtree(cache, ignore_errors=True)
    scratch = os.path.join(cache, "scratch")
    os.environ["TMPDIR"] = os.path.join(scratch, "tmp")
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)
    workloads = {name: cls(cache, SEED, "selftest") for name, cls in WORKLOADS.items()}
    for name, cls in WORKLOADS.items():
        def manifest(w):
            with open(os.path.join(w.dir, "fingerprint.json")) as fh:
                return fh.read()

        same = cls(os.path.join(cache, "again"), SEED, "selftest")
        other = cls(cache, SEED + 1, "selftest")
        if manifest(same) != manifest(workloads[name]):
            failures.append(f"{name}: the same seed generated different inputs")
        if manifest(other) == manifest(workloads[name]):
            failures.append(f"{name}: seeds {SEED} and {SEED + 1} generated identical inputs")

    try:
        session = run.Session(run.machine(), scratch, os.path.join(scratch, "eventlog"))
        tracer = Tracer(session.spark, traced=True)
        reps = {}
        for name, w in workloads.items():
            reps[name] = w.run(session.spark, tracer, os.path.join(scratch, name))
        session.stop()

        spark = spark_layer_metrics(
            os.path.join(session.event_log, session.app_id), tracer.spans, list(run.LAYERS)
        )
        for name, rep in reps.items():
            bad = workloads[name].check(rep)
            if bad:
                failures.append(f"{name}: unperturbed outputs fail their checks: {bad}")
            for table, column, change in PERTURB[name]:
                keep = os.path.join(scratch, "keep")
                shutil.copytree(os.path.join(rep.out_dir, table), keep)
                perturb(os.path.join(rep.out_dir, table), column, change)
                if not workloads[name].check(rep):
                    failures.append(f"{name}: perturbed {table}.{column} passes the checks")
                shutil.rmtree(os.path.join(rep.out_dir, table))
                shutil.move(keep, os.path.join(rep.out_dir, table))
            for layer in LAYERS_USED[name]:
                if spark[layer]["jobs"] < 1:
                    failures.append(f"{name}: no Spark job attributed to layer {layer}")
    finally:
        shutil.rmtree(cache, ignore_errors=True)

    for f in failures:
        print("FAIL", f)
    print("selftest:", "ok" if not failures else f"{len(failures)} failure(s)")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
