"""One benchmark run in one process: start Spark, run a workload, check its
outputs, print the result. ``run.py`` starts this with the environment
pinned; run it through ``run.py``, not directly."""

from __future__ import annotations

import time

T_START = time.perf_counter()  # process start, before pyspark is imported

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import sys  # noqa: E402

import metrics  # noqa: E402
import procstat  # noqa: E402
from bench import _cpu_steal_ticks  # noqa: E402
from context import Aborted, Run  # noqa: E402
from spans import Tracer  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("cdc_trickle", "headline_queries")


def start_spark(r: Run, cores: int):
    from pgsf_spark.session import get_spark

    tmp = r.dir("tmp")
    conf = {
        # keep the JVM's temp files inside the work directory
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    if r.trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": r.dir("eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(f"perfbench-{r.workload}", master=f"local[{cores}]",
                      shuffle_partitions=cores, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    r.spark = spark
    r.tracer = Tracer(spark.sparkContext, enabled=r.trace)
    return spark


def event_log(r: Run):
    import eventlog

    d = r.dir("eventlog")
    files = [os.path.join(d, f) for f in os.listdir(d)]
    if len(files) != 1:
        raise Aborted(f"expected one event log in {d}, found {len(files)}")
    return eventlog.read(files[0])


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--work", required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args(argv)

    if a.workload == "cdc_trickle":
        import cdc as workload
    else:
        import headline as workload

    r = Run(a.workload, a.seed, a.seconds, bool(a.trace), a.work)
    cores = min(4, len(os.sched_getaffinity(0)))
    ticks0 = _cpu_steal_ticks()
    load0 = os.getloadavg()[0]
    e2e: dict = {}
    layers: dict = {}
    try:
        spark = start_spark(r, cores)
        e2e = workload.run(r, T_START, time.perf_counter() - T_START)
        jvm = spark.sparkContext._gateway.proc.pid
        r.info["peak_rss_mb"] = procstat.peak_rss_mb(jvm)
        e2e["peak_rss_mb"] = r.info["peak_rss_mb"]["total"]
        r.info["env"] = {
            "master": spark.sparkContext.master,
            "defaultParallelism": spark.sparkContext.defaultParallelism,
            "nproc": os.cpu_count(),
            "affinity_cpus": len(os.sched_getaffinity(0)),
            "seed": a.seed,
            "source": procstat.source_id(ROOT),
            "python_hash_seed": os.environ.get("PYTHONHASHSEED"),
            "driver_memory": spark.sparkContext.getConf().get("spark.driver.memory"),
        }
        t_stop = time.perf_counter()
        spark.stop()
        r.info["phases_s"]["stop"] = time.perf_counter() - t_stop
        if r.trace:
            log = event_log(r)
            layers = workload.layers(r, log, cores)
            r.info["jobs"] = {"total": len(log.jobs),
                              "outside_any_span": sum(j.span is None for j in log.jobs.values())}
    except Aborted as e:
        print(f"ABORTED: {e}", file=sys.stderr)
    r.info["env"] = {**r.info.get("env", {}), "load_1m_start": load0,
                     "load_1m_end": os.getloadavg()[0],
                     "steal_pct": procstat.steal_pct(ticks0, _cpu_steal_ticks())}

    units = metrics.layer_units() if r.trace else metrics.E2E
    values = layers if r.trace else e2e
    correct = r.failed == 0 and all(values.get(n) is not None for n in units)
    result = {
        "correct": correct,
        "attempted": max(r.attempted, 1),
        "failed": r.failed,
        "metrics": {n: {"value": values[n], "unit": u} for n, u in units.items()
                    if values.get(n) is not None},
    }
    if r.trace:
        r.info["traced_end_to_end"] = e2e  # minus an untraced run's: the tracing overhead
    artifact = {"workload": a.workload, "seed": a.seed, "trace": a.trace, "seconds": a.seconds,
                "end_to_end": e2e, "per_layer": layers, "errors": r.errors, **r.info}
    if r.trace:
        artifact["spans"] = r.tracer.to_json()
    os.makedirs(os.path.dirname(a.out), exist_ok=True)
    with open(a.out, "w") as f:
        json.dump(artifact, f, indent=1, default=str)

    for n, m in result["metrics"].items():
        print(f"{a.workload} {n} = {m['value']:.6g} {m['unit']}")
    for n, v in e2e.items():
        if not r.trace and n not in result["metrics"] and v is not None:
            print(f"{a.workload} {n} = {v:.6g} (recorded, no bound)")
    for k, v in r.info.items():
        if k != "samples":
            print(f"{a.workload} {k}: {json.dumps(v, default=str)}")
    print(f"artifact: {os.path.relpath(a.out, ROOT)}")
    print(json.dumps(result))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
