"""Benchmark entry point.

    python3 perfbench/run.py --workload {query,dataprep}
        --seed N --seconds S --trace {0,1}

Run from the repository root. Builds its inputs from the seed, runs the
workload as a closed loop for S seconds (longer if it has measured fewer
than 3 operations) on ``local[<cores>]``, checks the outputs, and prints a
report followed by one JSON line (the last line of
stdout): end-to-end metrics with ``--trace 0``, per-layer metrics with
``--trace 1``. Exits 1 when a check or an operation failed, 2 when the
package cannot be imported. Everything it writes lives under
``.perfbench_work/`` (removed at exit) and ``.perfbench_out/`` (trace
files) in the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shlex
import shutil
import signal
import sys
import time
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DEADLINE_S = 170  # a run must end within 180 s

def registered_metrics() -> dict:
    """{"end_to_end"|"per_layer": {name: unit}} from BENCHMARK.json, the one
    list of the metrics a run's JSON line carries."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        b = json.load(f)
    return {k: {m["name"]: m["unit"] for m in b[k]}
            for k in ("end_to_end", "per_layer")}


def unit_of(name: str) -> str:
    """Unit of a report-only metric, from its name."""
    if name.endswith("_s"):
        return "s"
    if "bytes" in name:
        return "bytes"
    return "ratio" if name.endswith(("_frac", ".share")) else "count"


@dataclass
class Ctx:
    spark: object
    seed: int
    seconds: float
    trace: bool
    rec: object
    tally: object
    work: str

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)


def machine() -> dict:
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        ram_kb = int(next(ln for ln in f if ln.startswith("MemTotal")).split()[1])
    return {"cores": cores, "ram_mb": ram_kb // 1024}


def spark_env(work: str, ram_mb: int, event_dir: str | None) -> None:
    """Session settings of the benchmark's own, passed to spark-submit: a
    driver heap well below physical RAM, and every scratch file (Spark local
    dirs, JVM and Python temp files, event log) inside ``work``."""
    mem = f"{max(512, min(1024, ram_mb // 8))}m"
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    conf = {"spark.driver.extraJavaOptions":
            f"-Xms{mem} -Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false"}
    if event_dir:
        os.makedirs(event_dir, exist_ok=True)
        conf |= {"spark.eventLog.enabled": "true",
                 "spark.eventLog.dir": event_dir,
                 "spark.eventLog.compress": "false",
                 "spark.eventLog.rolling.enabled": "false"}
    args = ["--driver-memory", mem]
    for k, v in conf.items():
        args += ["--conf", f"{k}={v}"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])


def stop_spark(spark) -> None:
    """Stop the session, end the JVM (and with it the Python workers), and
    wait until every process this run started has exited."""
    from pyspark import SparkContext

    from measure import descendants
    gw = SparkContext._gateway
    spark.stop()
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
            proc.wait(timeout=60)
    deadline = time.time() + 30
    while descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.1)
    for pid in descendants(os.getpid()):
        os.kill(pid, signal.SIGKILL)


def deadline_handler(work: str):
    """A run over its deadline is killed outright: a Py4J call interrupted
    by the signal leaves the gateway unusable, so there is no orderly stop."""
    def handler(*_):
        from measure import descendants
        print(f"perfbench: run exceeded {DEADLINE_S} s", file=sys.stderr)
        for pid in descendants(os.getpid()):
            os.kill(pid, signal.SIGKILL)
        shutil.rmtree(work, ignore_errors=True)
        os._exit(3)
    return handler


def job_label(job: dict, spans_: list[dict]) -> str:
    """Innermost span of a job; a build_index job also gets the phase whose
    checkpoint is the first to commit after the job started."""
    if job["span"] is None:
        return "(untraced)"
    s = spans_[job["span"]]
    if s["name"] != "build.build_index":
        return s["name"]
    ends = sorted((c["end"], c["phase"]) for c in spans_
                  if c["name"] == "manifest.write_checkpoint"
                  and c["start"] >= s["start"] and c["end"] <= s["end"])
    phase = next((p for e, p in ends if e >= job["start"]), "manifest")
    return f"{s['name']}:{phase}"


def layer_metrics(ctx, res: dict, log: dict, session_s: float) -> dict:
    import spans
    import workloads
    from measure import median
    sp = ctx.rec.spans
    layers = res.get("layers", {})
    layers = layers(log) if callable(layers) else layers
    lat = res["latencies"]
    traced = [t for t, tr in lat if tr]
    untraced = [t for t, tr in lat if not tr]
    # Spark totals per traced closed-loop operation (set-up work excluded)
    ops = [s for s in sp if s["name"] == "bench.op"]
    ids = {s["id"] for s in ops} | {c["id"] for s in ops
                                   for c in workloads.subtree(sp, s)}
    tot = spans.spark_totals(log, ids)
    n_ops = max(1, len(ops))
    out = {"session.start_s": session_s, "trace.spans": len(sp)}
    if traced and untraced:
        out["trace.overhead_s"] = median(traced) - median(untraced)
    return out | {f"spark.{k}": v / n_ops for k, v in tot.items()} | layers


def report(name: str, value, unit: str) -> None:
    print(f"metric {name} = {value} {unit}")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("query", "dataprep"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import solr_mapreduce_indexer_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the package is not importable from {ROOT}: {e}",
              file=sys.stderr)
        return 2

    registered = registered_metrics()
    mach = machine()
    run_id = f"{a.workload}-seed{a.seed}-trace{a.trace}-{os.getpid()}"
    work = os.path.join(ROOT, ".perfbench_work", run_id)
    signal.signal(signal.SIGALRM, deadline_handler(work))
    signal.alarm(DEADLINE_S)
    event_dir = os.path.join(work, "events") if a.trace else None
    spark_env(work, mach["ram_mb"], event_dir)

    import numpy
    import pyarrow
    import pyspark

    import spans
    import workloads
    from measure import MemSampler, Tally, median, tail

    P = workloads._pkg()
    rec = spans.Recorder(run_id)
    if a.trace:
        rec.patch_boundaries()
    tally = Tally()
    spark = None
    try:
        with MemSampler() as mem:
            session_s, spark = workloads.timed(
                P["session"].get_spark, app="perfbench",
                master=f"local[{mach['cores']}]")
            ctx = Ctx(spark, a.seed, a.seconds, bool(a.trace), rec, tally,
                      work)
            res = workloads.WORKLOADS[a.workload](ctx)
        stop_spark(spark)
        spark = None
        log = spans.read_event_log(event_dir) if a.trace else None

        setup_s = session_s + sum(res["setup"].values())
        lat = workloads.untraced(res["latencies"])
        print(f"perfbench workload={a.workload} seed={a.seed} "
              f"seconds={a.seconds:g} trace={a.trace} cores={mach['cores']} "
              f"ram_mb={mach['ram_mb']} spark={pyspark.__version__} "
              f"pyarrow={pyarrow.__version__} numpy={numpy.__version__} "
              f"python={platform.python_version()}")
        print("setup " + json.dumps({"session_s": round(session_s, 4)}
                                    | {k: round(v, 4)
                                       for k, v in res["setup"].items()}))
        print("properties " + json.dumps(res["props"], default=str))
        print("peak_pss_mb_by_process " + json.dumps(
            {k: round(v / 1024, 1) for k, v in mem.peak_parts.items()}))
        for k, (v, u) in res["named"].items():
            report(k, f"{v:.6g}", u)
        print("latencies_s " + json.dumps([round(x, 4) for x in lat]))
        t = tail(lat)
        report("op_tail_s", "n/a" if t is None else f"{t[1]:.6g}",
               f"s (n={len(lat)}" + ("" if t is None else
                                     f", p{t[0]:g}, {t[2]} beyond") + ")")
        report("ops_failed_frac", f"{tally.failed_frac:.6g}", "ratio")
        e2e = {"setup_s": setup_s, "op_p50_s": median(lat),
               "items_per_s": res["items_per_s"],
               "peak_pss_mb": mem.peak / 2**20}
        units = registered["end_to_end"]
        for k, v in e2e.items():
            report(k, f"{v:.6g}", units[k])
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in units.items()}
        if a.trace:
            lm = layer_metrics(ctx, res, log, session_s)
            for k, v in lm.items():
                report(k, f"{v:.6g}", registered["per_layer"].get(k, unit_of(k)))
            by_label: dict[str, dict] = {}
            for jid, job in log["jobs"].items():
                by_label.setdefault(job_label(job, rec.spans), {})[jid] = job
            for name in sorted({x["name"] for x in rec.spans}):
                mine = [x for x in rec.spans if x["name"] == name]
                print(f"span[{name}] " + json.dumps({
                    "n": len(mine),
                    "total_s": round(sum(x["end"] - x["start"]
                                         for x in mine), 4),
                    "self_s": round(sum(spans.self_time(x, rec.spans)
                                        for x in mine), 4)}))
            for label, jobs in sorted(by_label.items()):
                tot = spans.spark_totals({"jobs": jobs,
                                          "stages": log["stages"]})
                print(f"spark[{label}] " + json.dumps(
                    {k: round(v, 4) for k, v in tot.items()}))
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            rec.dump(os.path.join(out_dir, f"{run_id}.spans.jsonl"))
            # a layer this workload does not run did no work: count 0
            metrics = {k: {"value": lm.get(k, 0), "unit": u}
                       for k, u in registered["per_layer"].items()}
        for err in tally.errors:
            print("error " + err.replace("\n", " | "), file=sys.stderr)
        print(json.dumps({"correct": tally.failed == 0,
                          "attempted": tally.attempted,
                          "failed": tally.failed, "metrics": metrics}))
        return 0 if tally.failed == 0 else 1
    finally:
        signal.alarm(0)
        if spark is not None:
            stop_spark(spark)
        rec.unpatch()
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


if __name__ == "__main__":
    sys.exit(main())
