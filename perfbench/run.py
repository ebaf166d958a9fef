"""Link-graph benchmark: one workload, one seed, one result line.

    python3 perfbench/run.py --workload powerlaw_graph --seed 1 --seconds 10 --trace 0

Runs from the root of a checkout of the repository, in one fresh Spark
driver process. Set-up is the session start plus an untimed warm-up: the
whole workload once on small inputs, which compiles its code paths and
starts the Python workers. Then whole repetitions of the workload run
until --seconds have passed, at least one. After the driver stops, the
outputs of every repetition are checked against independent reference
results (perfbench/oracles.py).

--trace 0 reports the end-to-end metrics. --trace 1 turns on the Spark
event log and a job group per layer call, and reports the per-layer
metrics instead. The last line of stdout is the result JSON; the line
before it records the machine, the settings and the raw timings.
See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(HERE, ".cache")
HISTORY = 20  # untraced job_s values kept for the tracing-overhead estimate
# engine A/B switches that must not leak into a measurement
AB_SWITCHES = ("PR_MSG_COMBINE", "CUT_LINEAGE_LEGACY")

END_TO_END = {
    "setup_s": "s",
    "job_s": "s",
    "edge_steps_per_s": "1/s",
    "peak_rss_mb": "MB",
}
LAYERS = ("session", "sources", "plans", "csr", "pagerank", "wcc", "lpa", "triangle", "checkpoint")
PER_LAYER = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "sources.read_s": "s",
    "sources.scan_rows": "count",
    "sources.extract_s": "s",
    "sources.edges_out": "count",
    "sources.resolved_ratio": "ratio",
    "plans.project_s": "s",
    "plans.catalog_write_s": "s",
    "plans.catalog_write_mb": "MB",
    "csr.build_s": "s",
    "csr.blocks": "count",
    "csr.block_skew": "ratio",
    "pregel.window_s": "s",
    "pagerank.iterate_s": "s",
    "pagerank.supersteps": "count",
    "wcc.iterate_s": "s",
    "wcc.supersteps": "count",
    "lpa.iterate_s": "s",
    "lpa.supersteps": "count",
    "triangle.iterate_s": "s",
    "triangle.triangles": "count",
    "checkpoint.snapshots": "count",
    "checkpoint.bytes": "bytes",
    "checkpoint.resume_s": "s",
    "trace.job_s": "s",
    "trace.overhead_s": "s",
}


def machine() -> dict:
    with open("/proc/meminfo") as fh:
        mem_kb = {k: int(v.split()[0]) for k, v in (line.split(":", 1) for line in fh)}
    total_mb = mem_kb["MemTotal"] // 1024
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_mb": total_mb,
        # an eighth of the machine, 1-4 GB: the host is shared
        "driver_memory": f"{min(4096, max(1024, total_mb // 8))}m",
    }


def git_commit() -> str:
    head = os.path.join(ROOT, ".git", "HEAD")
    if not os.path.exists(head):
        return "unknown (not a git checkout)"
    with open(head) as fh:
        ref = fh.read().strip()
    if not ref.startswith("ref: "):
        return ref
    path = os.path.join(ROOT, ".git", ref[5:])
    if os.path.exists(path):
        with open(path) as fh:
            return fh.read().strip()
    with open(os.path.join(ROOT, ".git", "packed-refs")) as fh:
        for line in fh:
            if line.rstrip().endswith(ref[5:]):
                return line.split()[0]
    return "unknown"


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests, all CPUs, since boot:
    a rise during a run means the host was contended."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


def descendants() -> list[int]:
    """Every live process below this one: the driver JVM and the Python
    workers it forked."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    found, todo = [], list(children.get(os.getpid(), []))
    while todo:
        pid = todo.pop()
        found.append(pid)
        todo.extend(children.get(pid, []))
    return found


def peak_rss_mb(pids: list[int]) -> dict[str, float]:
    """Peak resident memory (VmHWM) of each process, by name[pid]."""
    peak_mb: dict[str, float] = {}
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as fh:
                status = dict(line.split(":", 1) for line in fh if ":" in line)
        except OSError:
            continue
        name = f"{status['Name'].strip()}[{pid}]"
        peak_mb[name] = int(status.get("VmHWM", "0 kB").split()[0]) / 1024.0
    return peak_mb


class Session:
    """One Spark driver process, started and stopped by the benchmark."""

    def __init__(self, mach: dict, scratch: str, event_log: str | None):
        from graph_data_science_spark.session import get_spark

        tmp = os.path.join(scratch, "tmp")
        os.makedirs(tmp, exist_ok=True)
        # every JVM the launcher starts would otherwise write /tmp/hsperfdata_*
        java_opts = os.environ.get("JAVA_TOOL_OPTIONS", "")
        if "-XX:-UsePerfData" not in java_opts:
            os.environ["JAVA_TOOL_OPTIONS"] = f"{java_opts} -XX:-UsePerfData".strip()
        conf = {
            "spark.local.dir": tmp,
            "spark.sql.warehouse.dir": os.path.join(scratch, "warehouse"),
            # a heap fixed from the start, so that peak RSS does not depend
            # on when the collector chose to grow it (measured: 8-15% run
            # to run spread without, about 2% with)
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Xms{mach['driver_memory']}",
            "spark.ui.showConsoleProgress": "false",
        }
        if event_log:
            os.makedirs(event_log, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + event_log,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        self.event_log = event_log
        self.spark = get_spark(
            app_name="perfbench",
            cores=mach["nproc"],
            shuffle_partitions=mach["nproc"],
            driver_memory=mach["driver_memory"],
            extra_conf=conf,
        )
        self.app_id = self.spark.sparkContext.applicationId

    def versions(self) -> dict:
        jvm = self.spark.sparkContext._jvm
        return {"spark": self.spark.version, "java": jvm.System.getProperty("java.version")}

    def stop(self) -> None:
        """Stop Spark, then wait until the driver JVM and the Python
        workers it started have exited."""
        from pyspark import SparkContext

        started = descendants()
        self.spark.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                if proc.stdin:
                    proc.stdin.close()
                proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None
        deadline = time.time() + 60
        while any(os.path.exists(f"/proc/{pid}") for pid in started) and time.time() < deadline:
            time.sleep(0.1)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def untraced_history(path: str, job_s: list[float] | None = None) -> list[float]:
    """Untraced job_s values recorded by earlier runs in this checkout
    (the last HISTORY of them); appends ``job_s`` first when given."""
    history = []
    if os.path.exists(path):
        with open(path) as fh:
            history = json.load(fh)
    if job_s:
        history = (history + job_s)[-HISTORY:]
        with open(path + ".tmp", "w") as fh:
            json.dump(history, fh)
        os.replace(path + ".tmp", path)
    return history


def run(args) -> int:
    from perfbench.tracing import SPARK_METRICS, Tracer, spark_layer_metrics
    from perfbench.workloads import WORKLOADS, clean

    mach = machine()
    traced = args.trace == 1
    scratch = os.path.join(CACHE, f"run-{os.getpid()}")
    os.environ["TMPDIR"] = os.path.join(scratch, "tmp")
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)
    workload = WORKLOADS[args.workload](CACHE, args.seed, "full")
    warm = WORKLOADS[args.workload](CACHE, args.seed, "warmup")
    info = {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace,
        "git_commit": git_commit(), "python": platform.python_version(), **mach,
        "unset_env": [k for k in AB_SWITCHES if os.environ.pop(k, None) is not None],
        "spark_graft_env": {k: v for k, v in os.environ.items() if k.startswith("SPARK_GRAFT_")},
        "pagerank_edges": workload.edges,
    }

    reps, problems = [], []
    attempted = failed = 0
    steal0 = steal_s()
    try:
        t0 = time.time()
        session = Session(mach, scratch, os.path.join(scratch, "eventlog") if traced else None)
        try:
            start_s = time.time() - t0
            info.update(session.versions())
            tracer = Tracer(session.spark, traced)

            tracer.phase = "warmup"
            warm_dir = os.path.join(scratch, "warmup")
            warm.run(session.spark, tracer, warm_dir, light=True)
            clean(warm_dir)
            setup_s = time.time() - t0

            tracer.phase = "rep"
            deadline = time.time() + args.seconds
            while True:
                attempted += 1
                out_dir = os.path.join(scratch, f"rep{attempted}")
                try:
                    reps.append(workload.run(session.spark, tracer, out_dir))
                except Exception:  # a failed repetition is counted, not fatal
                    failed += 1
                    problems.append(traceback.format_exc(limit=4))
                    break
                if time.time() >= deadline:
                    break
            rss_by_process = peak_rss_mb(descendants())
        finally:
            session.stop()

        # output checks, outside the timed section and after the driver stopped
        for rep in reps:
            bad = workload.check(rep)
            if bad:
                failed += 1
                problems.extend(bad)
            clean(rep.out_dir)
        if traced:
            log = os.path.join(session.event_log, session.app_id)
            spark_layers = spark_layer_metrics(log, tracer.spans, list(LAYERS))
    finally:
        shutil.rmtree(scratch, ignore_errors=True)

    job_s = [r.job_s for r in reps]
    # shared by all seeds of this workload and input size
    history = workload.dir.rsplit("-seed", 1)[0] + "-untraced-job_s.json"
    info.update({
        "setup_s": setup_s,
        "job_s": job_s,
        "steal_s": steal_s() - steal0,
        "peak_rss_mb": rss_by_process,
        "spans_s": {f"{s.layer}.{s.step}": s.seconds for s in tracer.spans if s.phase == "rep"},
        "problems": problems,
    })
    print(json.dumps({"info": info}), flush=True)
    if not reps:
        print("no timed repetition completed", file=sys.stderr)
        return 1

    if traced:
        values = {name: median([r.layer.get(name, 0.0) for r in reps]) for name in PER_LAYER}
        values["session.start_s"] = start_s
        values["session.warmup_s"] = setup_s - start_s
        values["pregel.window_s"] = median([w for r in reps for w in r.windows])
        values["trace.job_s"] = median(job_s)
        untraced = untraced_history(history)
        # 0 until an untraced run of this workload has been recorded
        values["trace.overhead_s"] = median(job_s) - median(untraced) if untraced else 0.0
        metrics = {name: {"value": values[name], "unit": unit} for name, unit in PER_LAYER.items()}
        for layer in LAYERS:
            per = 1 if layer == "session" else len(reps)
            for name, unit in SPARK_METRICS:
                metrics[f"spark.{layer}.{name}"] = {
                    "value": spark_layers[layer][name] / per, "unit": unit,
                }
    else:
        untraced_history(history, job_s)
        values = {
            "setup_s": setup_s,
            "job_s": median(job_s),
            "edge_steps_per_s": median([r.pagerank_edge_steps / r.pagerank_s for r in reps]),
            "peak_rss_mb": sum(rss_by_process.values()),
        }
        metrics = {name: {"value": values[name], "unit": unit} for name, unit in END_TO_END.items()}

    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()

    sys.path.insert(0, ROOT)
    try:
        import graph_data_science_spark  # noqa: F401  (the program under test)
    except ImportError:
        print(f"graph_data_science_spark is not importable from {ROOT}", file=sys.stderr)
        return 2
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    return run(args)


if __name__ == "__main__":
    sys.exit(main())
