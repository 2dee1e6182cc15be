"""Repository benchmark: closed-loop workloads on local[nproc].

    python3 perfbench/run.py --workload kg_build_resume --seed 42 --seconds 5 --trace 0

One process, one SparkSession, one client: the next iteration starts when
the previous one finishes. The run

1. starts the session (``build_session``) with a fresh SPARK_LOCAL_DIRS
   and SPARK_GRAFT_CPUS = nproc;
2. sets the workload up once (inputs made from ``--seed``);
3. runs one discarded warm-up iteration, then timed iterations until
   their summed wall time reaches ``--seconds``;
4. checks every iteration's output outside the clock (fingerprint equal
   on every iteration and, at the default seed, equal to the pinned one
   in ``fingerprints.json``; build-path mention P/R >= 0.95 for the KG
   workload).

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` also runs one
traced, staged iteration (see ``tracing.py``) after the timed ones and
prints the per-layer metrics instead. ``--smoke`` runs the same code on
tiny inputs and checks that every metric name prints with its unit.

The last line of stdout is the result:
``{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

T_START = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DEFAULT_SEED = 42
PINS = os.path.join(HERE, "fingerprints.json")

END_TO_END = {"setup_s": "s", "wall_s": "s", "docs_per_s": "docs/s",
              "peak_rss_mb": "MB"}


def _args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["kg_build_resume", "graph_dedup"])
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, default=20.0)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny inputs; self-test of metric names and checks")
    return ap.parse_args(argv)


# ---- process tree and memory ----------------------------------------------
def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def reset_peak_rss(pids) -> None:
    for p in pids:
        try:
            with open(f"/proc/{p}/clear_refs", "w") as f:
                f.write("5")  # resets VmHWM to the current RSS
        except OSError:
            pass


def peak_rss_mb(pids) -> float:
    """Sum of VmHWM (peak resident set) over the JVM and Python workers."""
    kb = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        except OSError:
            pass
    return kb / 1024.0


def _wait_gone(pids, timeout: float = 30.0) -> None:
    import signal

    deadline = time.time() + timeout
    for sig in (None, signal.SIGKILL):
        while time.time() < deadline:
            alive = [p for p in pids if os.path.exists(f"/proc/{p}")
                     and not _zombie(p)]
            if not alive:
                return
            time.sleep(0.1)
        for p in pids:
            try:
                os.kill(p, sig or signal.SIGTERM)
            except OSError:
                pass
        deadline = time.time() + 5


def _zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return True


# ---- the run ----------------------------------------------------------------
class Run:
    """Counts, checks and fingerprints of one benchmark run."""

    def __init__(self, args):
        self.attempted = self.failed = 0
        self.check_s = 0.0  # time spent in output checks, outside the clock
        self.warmup_s = 0.0
        self.errors: list[str] = []
        self.ref_fp = None
        self.pinned = None
        if args.seed == DEFAULT_SEED and not args.smoke:
            with open(PINS) as f:
                self.pinned = json.load(f).get(args.workload)
            if self.pinned is None:
                raise SystemExit(f"no pinned fingerprint for {args.workload}")

    def verify(self, wl, res, label: str) -> bool:
        t0 = time.perf_counter()
        fp, errors = wl.check(res)
        self.check_s += time.perf_counter() - t0
        if self.ref_fp is None:
            self.ref_fp = fp
        elif fp != self.ref_fp:
            errors.append(f"fingerprint changed: {fp} != {self.ref_fp}")
        if self.pinned is not None and fp != self.pinned:
            errors.append(f"fingerprint {fp} != pinned {self.pinned}")
        for e in errors:
            self.errors.append(f"{label}: {e}")
            print(f"perfbench: {label}: {e}", file=sys.stderr)
        return not errors

    def iteration(self, wl, label: str, counted: bool):
        """One reset + timed iterate + check. Returns the wall time, or
        None if the iteration raised; a failed check is counted in
        ``failed`` but its time is kept."""
        wl.reset()
        t0 = time.perf_counter()
        try:
            res = wl.iterate()
            wall = time.perf_counter() - t0
            ok = self.verify(wl, res, label)
        except Exception:  # a failed iteration is counted, not fatal
            traceback.print_exc()
            self.errors.append(f"{label}: raised")
            wall, ok = None, False
        if counted:
            self.attempted += 1
            self.failed += 0 if ok else 1
        return wall


def main(argv=None) -> int:
    args = _args(argv)
    if not os.path.isdir(os.path.join(ROOT, "generative_ner_spark")):
        print(f"perfbench: no generative_ner_spark package under {ROOT}",
              file=sys.stderr)
        return 2
    nproc = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "local"))
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ.setdefault("SPARK_DRIVER_MEM", "2g")
    # Python workers import the package from the checkout, not from
    # wherever the interpreter happens to find one
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    load_before = os.getloadavg()
    try:
        result, stamps = _bench(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    stamps.update(nproc=nproc, load_before=load_before,
                  load_after=os.getloadavg())
    print(json.dumps({"perfbench": stamps}))
    missing = _undeclared(result["metrics"], args.trace)
    if missing:
        print(f"perfbench: metrics differ from BENCHMARK.json: {missing}",
              file=sys.stderr)
        return 3
    print(json.dumps(result))
    return 0


def _undeclared(metrics: dict, trace: int) -> list[str]:
    """Names whose presence or unit differs from BENCHMARK.json's list
    for this mode (end_to_end untraced, per_layer traced)."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)["per_layer" if trace else "end_to_end"]
    want = {m["name"]: m["unit"] for m in spec}
    got = {k: v["unit"] for k, v in metrics.items()}
    return sorted(k for k in want.keys() | got.keys()
                  if want.get(k) != got.get(k))


def _bench(args, work: str):
    import generative_ner_spark
    from generative_ner_spark.plans import session

    if not os.path.abspath(generative_ner_spark.__file__).startswith(ROOT + os.sep):
        raise SystemExit("perfbench: imported generative_ner_spark from "
                         f"{generative_ner_spark.__file__}, not {ROOT}")
    import tracing
    import workloads

    # a fixed heap: no resizing between runs, so peak RSS and GC timing
    # do not depend on when the JVM chose to grow
    conf = {"spark.driver.extraJavaOptions": "-Xms" + os.environ["SPARK_DRIVER_MEM"]}
    if args.trace:
        conf |= {"spark.eventLog.enabled": "true",
                 "spark.eventLog.compress": "false",
                 "spark.eventLog.dir": os.path.join(work, "eventlog")}
        os.makedirs(conf["spark.eventLog.dir"])
    t0 = time.perf_counter()
    spark = session.build_session(app_name=f"perfbench-{args.workload}",
                                  extra_conf=conf)
    build_s = time.perf_counter() - t0
    session_s = time.time() - T_START
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    jvm_tree = descendants(os.getpid())
    try:
        spark.sparkContext.setLogLevel("ERROR")
        out = _measure(args, spark, work, tracing, workloads)
    finally:
        t_stop = time.perf_counter()
        spark.stop()
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)
        _wait_gone(descendants(os.getpid()) + jvm_tree)
        stop_s = time.perf_counter() - t_stop
    run, walls, setup_s, rss, trace, wl = out
    stamps = {"workload": args.workload, "seed": args.seed,
              "smoke": args.smoke, "session_s": session_s,
              "setup_s": setup_s, "walls_s": walls,
              "warmup_s": run.warmup_s, "check_s": run.check_s,
              "stop_s": stop_s,
              "fingerprint": run.ref_fp, "mention_pr": getattr(wl, "pr", None),
              "errors": run.errors}
    wall = statistics.median(walls) if walls else float("nan")
    if args.trace:
        metrics = _per_layer(trace, work, build_s, wall, tracing)
    else:
        values = {
            "setup_s": session_s + setup_s,
            "wall_s": wall,
            "docs_per_s": wl.n_docs / wall,
            "peak_rss_mb": rss,
        }
        metrics = {k: {"value": v, "unit": END_TO_END[k]}
                   for k, v in values.items()}
    result = {"correct": not run.errors and run.attempted > 0,
              "attempted": max(run.attempted, 1),
              "failed": run.failed if run.attempted else 1,
              "metrics": metrics}
    return result, stamps


def _measure(args, spark, work, tracing, workloads):
    size = workloads.SIZES["smoke" if args.smoke else "full"]
    wl = workloads.WORKLOADS[args.workload](spark, args.seed, size, work)
    run = Run(args)
    t0 = time.perf_counter()
    setup_tracer = None
    if args.trace:
        setup_tracer = tracing.Tracer(spark, "s", release=False)
        with setup_tracer:
            wl.setup()
    else:
        wl.setup()
    setup_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    run.iteration(wl, "warmup", counted=False)
    run.warmup_s = time.perf_counter() - t0
    # peak memory over the timed iterations only
    tree = descendants(os.getpid())
    reset_peak_rss(tree)
    walls: list[float] = []
    k = 0
    while sum(walls) < args.seconds or not walls:
        wall = run.iteration(wl, f"iter{k}", counted=True)
        if wall is not None:
            walls.append(wall)
        k += 1
        if run.attempted >= 3 and not walls:
            break  # every iteration raises; stop rather than spin
    rss = peak_rss_mb(descendants(os.getpid()))
    trace = None
    if args.trace:
        trace = _traced_iteration(run, wl, spark, tracing)
        trace["setup_tracer"] = setup_tracer
    return run, walls, setup_s, rss, trace, wl


def _traced_iteration(run, wl, spark, tracing) -> dict:
    """One staged iteration with every layer wrapped; extra counters that
    need the layer outputs are read before the tracer releases them."""
    from pyspark.sql import functions as F

    wl.reset()
    extra: dict[str, float] = {}
    tr = tracing.Tracer(spark, "t")
    with tr:
        t0 = time.perf_counter()
        res = wl.iterate()
        total = time.perf_counter() - t0
        linked = tr.outputs.get("linking.link_mentions")
        if linked is not None:
            extra["linking.link_mentions.linked_ratio"] = linked.agg(
                F.avg(F.col("linked").cast("double"))).first()[0]
        hashed = tr.outputs.get("detect.with_prompt_hash")
        if hashed is not None:
            appended = wl.checkpoint_rows() - wl.seeded_rows
            extra["pipeline.checkpoint.hit_ratio"] = 1.0 - appended / hashed.count()
    run.verify(wl, res, "traced")
    for sink in getattr(wl, "sinks", {}).values():
        extra["triples.write_triples.files"] = extra.get(
            "triples.write_triples.files", 0) + sum(
            1 for _, _, fs in os.walk(sink) for f in fs
            if f.endswith(".parquet"))
    return {"tracer": tr, "total": total, "extra": extra}


def _per_layer(trace, work, build_s, untraced_wall, tracing) -> dict:
    log = tracing.EventLog(os.path.join(work, "eventlog"))
    tracers = {"s": trace["setup_tracer"], "t": trace["tracer"]}
    values: dict[str, float] = {f"{tracing.SESSION}.wall_s": build_s}
    for layer in tracing.LAYERS[1:]:
        acc = {c: 0.0 for c in tracing.COUNTERS}
        for tag, tr in tracers.items():
            c = log.counters(tag, layer)
            acc["wall_s"] += tr.wall.get(layer, 0.0)
            acc["rows_out"] += tr.rows.get(layer, 0) or c["records_written"]
            acc["run_s"] += c["run_s"]
            acc["shuffle_write_mb"] += c["shuffle_write_mb"]
            acc["spill_mb"] += c["spill_mb"]
            acc["task_skew"] = max(acc["task_skew"], c["task_skew"])
        for name, v in acc.items():
            values[f"{layer}.{name}"] = v
    ck = log.counters("t", tracing.CHECKPOINT)
    values["pipeline.checkpoint.read_mb"] = ck["read_mb"]
    values["pipeline.checkpoint.write_mb"] = ck["write_mb"]
    values["triples.write_triples.write_mb"] = log.counters(
        "t", "triples.write_triples")["write_mb"]
    for op in tracing.GRAPH_OPS:
        values[f"graph.{op}.jobs"] = log.counters("t", f"graph.{op}")["jobs"]
    values["tracing.overhead_s"] = trace["total"] - untraced_wall
    values.update(trace["extra"])
    for name in tracing.EXTRA:
        values.setdefault(name, 0.0)
    print(json.dumps({"perfbench_callsites": log.callsites("t")}),
          file=sys.stderr)
    return {n: {"value": values[n], "unit": tracing.unit_of(n)}
            for n in tracing.per_layer_names()}


if __name__ == "__main__":
    sys.exit(main())
