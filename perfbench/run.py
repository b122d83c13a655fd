"""Benchmark for traildb_spark: one closed-loop client with one caller
timing calls into the public API on local[nproc].

    python3 perfbench/run.py --workload point_queries --seed 1 --seconds 10 --trace 0

Run from the repository root. Inputs are generated from ``--seed``
(perfbench/gen.py) and cached under perfbench/.work/. The last stdout line
is one JSON object {"correct", "attempted", "failed", "metrics"}: the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. The full record (environment, input hash, sample counts,
tail percentiles, spans) goes to perfbench/.work/results/.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / ".work"
SETUP_REPS = 3


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def host_cpu() -> tuple[int, int]:
    """(all, steal) jiffies of the machine so far, from /proc/stat."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    return sum(ticks), ticks[7]


def configure_env(n: int) -> None:
    """Spark, the JVM, Python workers and temp files all stay inside the
    checkout; shuffle partitions follow the core count."""
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(n),
        "SPARK_GRAFT_SHUFFLE_PARTITIONS": str(n),
        "SPARK_GRAFT_DRIVER_MEM": "2g",
        "SPARK_LOCAL_DIRS": str(WORK / "spark-local"),
        "TMPDIR": str(tmp),
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(
            [str(ROOT), str(HERE)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]),
        "PYSPARK_SUBMIT_ARGS": (
            f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' "
            "--conf spark.ui.retainedJobs=100000 --conf spark.ui.retainedStages=100000 "
            "--conf spark.sql.ui.retainedExecutions=100 pyspark-shell"),
    })
    os.environ.pop("SPARK_MASTER", None)
    sys.path.insert(0, str(ROOT))


def program_hash() -> str:
    """Keys caches of artifacts the program itself writes (.tdb inputs,
    finalized datasets), so a changed program never reads stale ones."""
    h = hashlib.sha256()
    for p in sorted((ROOT / "traildb_spark").rglob("*.py")):
        h.update(p.relative_to(ROOT).as_posix().encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def environment() -> dict:
    import numpy
    import pyarrow
    import pyspark

    return {
        "nproc": nproc(),
        "python": sys.version.split()[0],
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "numpy": numpy.__version__,
        "spark_graft": {k: v for k, v in sorted(os.environ.items())
                        if k.startswith("SPARK_GRAFT_")},
    }


class Session:
    """Owns the Spark session and the gateway JVM it runs in; ``close``
    stops both and waits until the JVM and its Python workers are gone."""

    def __init__(self):
        from traildb_spark import get_spark

        self._get = lambda: get_spark("perfbench")
        t0 = time.perf_counter()
        self.spark = self._get()
        self.gateway_s = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")

    def restart(self):
        """Fresh SparkContext in the running JVM: new status store, new
        Python workers, no cached plans or blocks. Returns seconds taken."""
        self.spark.stop()
        t0 = time.perf_counter()
        self.spark = self._get()
        dt = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        return dt

    @property
    def jvm_pid(self) -> int:
        from pyspark import SparkContext

        return SparkContext._gateway.proc.pid

    def close(self) -> None:
        from pyspark import SparkContext

        from instrument import process_tree

        gw = SparkContext._gateway
        pids = process_tree(gw.proc.pid) if gw is not None else []
        try:
            self.spark.stop()
        finally:
            if gw is not None:
                gw.shutdown()
                gw.proc.stdin.close()
                try:
                    gw.proc.wait(timeout=30)
                except Exception:
                    gw.proc.kill()
                    gw.proc.wait(timeout=30)
            deadline = time.monotonic() + 30
            while time.monotonic() < deadline and any(os.path.exists(f"/proc/{p}") and
                                                      not _zombie(p) for p in pids):
                time.sleep(0.1)


def _zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return True


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "traildb_spark").is_dir():
        print(f"{ROOT / 'traildb_spark'} not found: the benchmark runs inside the repository",
              file=sys.stderr)
        return 2
    t_start = time.perf_counter()
    n = nproc()
    configure_env(n)
    import workloads
    from instrument import RssSampler, StageCounters, Tracer, median, tail_percentile

    if args.workload not in workloads.WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")
    wl = workloads.WORKLOADS[args.workload](args.seed, WORK, program_hash())
    wl.generate()
    t_gen = time.perf_counter()

    run_id = f"{args.workload}-{args.seed}-{os.getpid()}-{int(time.time())}"
    sess = Session()
    try:
        sampler = RssSampler(sess.jvm_pid).start()
        t_jvm = time.perf_counter()
        warm_tracer = Tracer(run_id)
        wl.prepare(sess.spark)
        # the untimed warm-up runs in the JVM's first session: it takes the
        # cold-JVM cost (which otherwise made one of three set-ups 3-5x the
        # others) and compiles the code paths the measured ops run
        t0 = time.perf_counter()
        wl.warm_round(wl.open(sess.spark), warm_tracer)
        warm_round_s = time.perf_counter() - t0
        t_prep = time.perf_counter()
        setups, starts, warms, opens = [], [], [], []
        for _ in range(SETUP_REPS):
            start = sess.restart()
            t0 = time.perf_counter()
            state = wl.open(sess.spark)
            t1 = time.perf_counter()
            wl.warm(state)
            t2 = time.perf_counter()
            starts.append(start)
            opens.append(t1 - t0)
            warms.append(t2 - t1)
            setups.append(start + t2 - t0)
        sampler.peak = 0  # memory of the measured phase only
        cpu0 = host_cpu()

        tracer = Tracer(run_id)
        ops, wall = workloads.measure(wl, state, tracer, args.seconds)
        untraced_calls = tracer.timings
        traced_ops, traced_wall = [], 0.0
        if args.trace:
            tracer = Tracer(run_id, StageCounters(sess.spark.sparkContext, n))
            traced_ops, traced_wall = workloads.measure(wl, state, tracer, args.seconds)
        peak_mb = sampler.stop()
        cpu1 = host_cpu()
        t_meas = time.perf_counter()
    finally:
        sess.close()
    t_close = time.perf_counter()

    all_ops = ops + traced_ops
    failed = sum(not o["ok"] for o in all_ops)
    timed = [o for o in ops if o["ok"]]
    try:
        e2e = workloads.end_to_end(wl.mix(), ops)
    except ValueError as exc:
        print(f"{args.workload}: {exc}; see the errors above", file=sys.stderr)
        return 1
    lat = [o["s"] for o in timed]
    tail = tail_percentile(lat)
    record = {
        "run_id": run_id, "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace,
        "inputs_sha256": wl.inputs_sha256, "sizes": wl.sizes(),
        "environment": environment(),
        "setup": {"setup_s": setups, "start_s": starts, "warm_s": warms, "open_s": opens,
                  "gateway_s": sess.gateway_s, "warm_round_s": warm_round_s},
        "peak_rss_mb": peak_mb,
        # share of the vCPUs' time the hypervisor gave to others while ops
        # ran: the host's load, which moves every timing of the run
        "steal_share": (cpu1[1] - cpu0[1]) / max(cpu1[0] - cpu0[0], 1),
        "phases_s": {"generate": t_gen - t_start, "jvm": t_jvm - t_gen,
                     "prepare": t_prep - t_jvm, "setup_and_measure": t_meas - t_prep,
                     "close": t_close - t_meas},
        "ops": len(ops), "untraced_wall_s": wall, "traced_wall_s": traced_wall,
        "warm_calls": warm_tracer.timings,
        "untraced_calls": untraced_calls,
        "op_tail_ms": {"p": tail[0], "ms": tail[1] * 1e3, "n": len(lat)} if tail else None,
        "per_op": workloads.per_op_summary(ops),
    }
    end_to_end = {
        "setup_s": (median(setups), "s"),
        "p50_geomean_ms": (e2e["p50_geomean_s"] * 1e3, "ms"),
        "items_per_s": (e2e["items_per_s"], "items/s"),
    }

    if args.trace:
        layer = workloads.per_layer(wl, tracer, traced_ops, record, n)
        metrics = {k: {"value": float(v), "unit": u} for k, (v, u) in layer.items()}
        spans_path = WORK / "results" / f"{run_id}.spans.jsonl"
        spans_path.parent.mkdir(parents=True, exist_ok=True)
        tracer.dump(str(spans_path))
        record["spans"] = str(spans_path.relative_to(ROOT))
    else:
        metrics = {k: {"value": float(v), "unit": u} for k, (v, u) in end_to_end.items()}
    record["end_to_end"] = {k: v for k, (v, _) in end_to_end.items()}
    (WORK / "results").mkdir(parents=True, exist_ok=True)
    with open(WORK / "results" / f"{run_id}.json", "w") as fh:
        json.dump(record, fh, indent=1)
    print(json.dumps({k: record[k] for k in ("run_id", "inputs_sha256", "ops", "op_tail_ms",
                                             "steal_share")}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(all_ops),
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
