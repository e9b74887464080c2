#!/usr/bin/env python3
"""Benchmark of the engine's upload, chat and dedup loops.

    python3 perfbench/run.py --workload {ingest,dedup} --seed N \\
        --seconds S --trace {0,1}

Run from the repository root. One process runs one workload, single
client, closed loop, on ``local[<nproc / 2>]``:

1. start the Spark session, then set the workload up ``SETUP_REPS``
   times from the seed (the generated corpus and its files);
2. run untimed warm-up ops until op time stops falling;
3. time ops for ``--seconds`` seconds;
4. with ``--trace 1``, run ``TRACED_OPS`` more ops with every layer
   call wrapped in a span and its own job group (for ``ingest``, then
   serve chat turns from the last index built), and fold Spark's event
   log per layer;
5. check every op's output against a reference computed another way.

Human-readable lines (prefixed ``#``) come first; the last line of
standard output is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``. Everything the run writes
lives in a temporary directory under ``.perfbench_tmp/`` at the
repository root and is removed at exit.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()  # process start, as near as Python gets

import argparse  # noqa: E402
import glob  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

from tracing import FOLD_UNITS  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

SETUP_REPS = 3
# warm-up ends when op time stops falling, or after MAX_WARMUP_OPS ops:
# a cap in ops, not seconds, leaves the JVM equally warm on a slow host
# (a time cap would warm it less and slow its timed ops further);
# MAX_WARMUP_S only bounds the run's length
MAX_WARMUP_OPS = 5
MAX_WARMUP_S = 90.0
TRACED_OPS = 3

END_TO_END = {
    "setup_s": "s",
    "op_p50_ms": "ms",
    "items_per_s": "1/s",
}

LAYERS = ("sources.extract", "operators.sectioning", "operators.chunking",
          "operators.embedding", "plans.pipeline", "operators.similarity",
          "sources.sinks", "plans.chat", "operators.dedup")
PER_LAYER = {
    "sources.extract.ms": "ms",
    "sources.extract.files": "count",
    "sources.extract.error_rows": "count",
    "operators.sectioning.ms": "ms",
    "operators.sectioning.paragraphs": "count",
    "operators.chunking.ms": "ms",
    "operators.chunking.chunks": "count",
    "operators.embedding.ms": "ms",
    "operators.embedding.vectors": "count",
    "operators.embedding.embed_one_ms": "ms",
    "plans.pipeline.write_ms": "ms",
    "plans.pipeline.index_bytes": "bytes",
    "plans.pipeline.files": "count",
    "plans.pipeline.persist_ms": "ms",
    "operators.similarity.topk_ms": "ms",
    "operators.similarity.jobs_per_turn": "count",
    "operators.similarity.tasks_per_turn": "count",
    "sources.sinks.append_ms": "ms",
    "sources.sinks.bytes_per_turn": "bytes",
    "plans.chat.self_ms": "ms",
    "operators.dedup.candidates_ms": "ms",
    "operators.dedup.candidate_pairs": "count",
    "operators.dedup.verified_ms": "ms",
    "operators.dedup.verified_pairs": "count",
    "operators.dedup.verify_yield": "ratio",
    "operators.dedup.cc_ms": "ms",
    "operators.dedup.cc_jobs": "count",
    "trace.untraced_op_p50_ms": "ms",
    "trace.traced_op_p50_ms": "ms",
    "trace.overhead_ms": "ms",
    **{f"{layer}.{f}": u for layer in LAYERS for f, u in FOLD_UNITS.items()},
}


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        kids.setdefault(int(fields[1]), []).append(int(stat.split("/")[2]))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        p = todo.pop()
        out.extend(kids.get(p, []))
        todo.extend(kids.get(p, []))
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def task_threads() -> int:
    """Half the CPUs: the driver, the JVM's compiler and collector
    threads and the Python workers keep CPUs of their own, so an op
    waits less on the scheduler when the host is busy."""
    return max(1, nproc() // 2)


def start_spark(tmp: str, trace: bool):
    from ade_agente_documental_empresarial___miner_a_spark.session import get_spark

    conf = {
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        # no hsperfdata file in the system temp directory
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        events = os.path.join(tmp, "events")
        os.makedirs(events)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + events,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark("perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and the JVM, and wait until the JVM and every
    Python worker it started have ended."""
    from pyspark import SparkContext

    procs = descendants(os.getpid())
    gateway = SparkContext._gateway
    jvm = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if jvm is not None:
        jvm.stdin.close()
        try:
            jvm.wait(timeout=60)
        except subprocess.TimeoutExpired:
            jvm.kill()
            jvm.wait()
    deadline = time.monotonic() + 20
    for pid in procs:
        while _alive(pid) and time.monotonic() < deadline:
            time.sleep(0.05)
        if _alive(pid):
            os.kill(pid, signal.SIGKILL)


def run(args, tmp: str) -> tuple[dict, list[str]]:
    from stats import median, warmed_up
    from tracing import Tracer, fold_event_log, fold_per_layer
    from workloads import WORKLOADS, Loop

    spark = start_spark(tmp, args.trace)
    try:
        session_s = time.perf_counter() - T0
        tracer = Tracer(spark) if args.trace else None
        wl = WORKLOADS[args.workload](spark, args.seed, tmp)
        setups = []
        for _ in range(SETUP_REPS):
            start = time.perf_counter()
            wl.setup()
            setups.append(time.perf_counter() - start)

        loop = Loop(wl.op)
        warm: list[float] = []
        deadline = time.perf_counter() + MAX_WARMUP_S
        while (not warmed_up(warm) and len(warm) < MAX_WARMUP_OPS
               and time.perf_counter() < deadline):
            warm.append(loop.one())
        timed = loop.window(args.seconds)
        traced: list[float] = []
        loops = [loop]
        if args.trace:
            wl.trace_hooks(tracer)
            try:
                for _ in range(TRACED_OPS):
                    tracer.op = str(loop.next)
                    traced.append(loop.one())
                served = wl.serve(tracer)
                if served is not None:
                    loops.append(served)
            finally:
                tracer.restore()
        check_start = time.perf_counter()
        verdicts = wl.check()
        check_s = time.perf_counter() - check_start
    finally:
        stop_spark(spark)

    attempted = sum(lp.next for lp in loops)
    raised = {k for lp in loops for k in lp.raised}
    failed = len(raised | {k for k, ok in verdicts.items() if not ok})
    checked_all = all(lp.key(i) in verdicts or lp.key(i) in raised
                      for lp in loops for i in range(lp.next))
    p50 = median(timed) * 1000.0
    setup_s = session_s + median(setups)
    items_per_s = wl.items_per_op * len(timed) / sum(timed)
    lines = [
        f"workload={args.workload} seed={args.seed} nproc={nproc()} "
        f"master=local[{task_threads()}] closed loop, 1 client",
        f"warm-up: {len(warm)} ops, {sum(warm):.2f} s "
        f"(op ms {', '.join(f'{t * 1000:.0f}' for t in warm)})",
        f"setup_s {setup_s:.3f} s = session {session_s:.3f} s + median of "
        f"{SETUP_REPS} set-ups ({', '.join(f'{t:.3f}' for t in setups)})",
        f"op_p50_ms {p50:.2f} ms n={len(timed)} "
        f"(op ms {', '.join(f'{t * 1000:.0f}' for t in timed)})",
        f"items_per_s {items_per_s:.3f} {wl.item}/s n={len(timed)}",
        f"check {check_s:.2f} s, whole run {time.perf_counter() - T0:.1f} s",
        f"failed_share {failed}/{attempted} = {failed / attempted:.4f}",
    ]
    lines += [f"{k} {v:.4f} {unit} n={n}"
              for k, (v, unit, n) in wl.report.items()]

    if args.trace:
        logs = glob.glob(os.path.join(tmp, "events", "*"))
        folded = fold_event_log(logs[0]) if len(logs) == 1 else {}
        metrics = dict.fromkeys(PER_LAYER, 0.0)
        metrics.update(wl.layer_metrics(tracer, folded))
        for layer, vals in fold_per_layer(folded).items():
            for f, v in vals.items():
                if f"{layer}.{f}" in metrics:
                    metrics[f"{layer}.{f}"] = v
        traced_p50 = median(traced) * 1000.0
        metrics["trace.untraced_op_p50_ms"] = p50
        metrics["trace.traced_op_p50_ms"] = traced_p50
        metrics["trace.overhead_ms"] = traced_p50 - p50
        units = PER_LAYER
        lines.append(f"traced window: {len(traced)} ops"
                     + "".join(f", {lp.next} {lp.tag}s" for lp in loops[1:])
                     + f", event log {'folded' if folded else 'MISSING'}")
        correct = bool(folded) and failed == 0 and checked_all
    else:
        metrics = {"setup_s": setup_s, "op_p50_ms": p50,
                   "items_per_s": items_per_s}
        units = END_TO_END
        correct = failed == 0 and checked_all
    result = {
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u}
                    for k, u in units.items()},
    }
    return result, lines


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("ingest", "dedup"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    tmp_root = os.path.join(ROOT, ".perfbench_tmp")
    os.makedirs(tmp_root, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=tmp_root)
    # every temporary file of this process, the JVM and the workers
    # stays in ``tmp``; no byte-code cache carries over between runs
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(tmp, "spark-local"),
        "SPARK_GRAFT_CPUS": str(task_threads()),
        "PYTHONDONTWRITEBYTECODE": "1",
        # spark-submit's launcher JVM: no hsperfdata file in /tmp either
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
    })
    tempfile.tempdir = tmp
    sys.dont_write_bytecode = True
    sys.path.insert(0, ROOT)
    try:
        result, lines = run(args, tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(tmp_root)
        except OSError:
            pass  # another run still uses it
    for line in lines:
        print("# " + line)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
