"""Benchmark runner for the playlist pipeline and the query catalog.

Usage (from the repository root)::

    python3 perfbench/run.py --workload playlist_batch --seed 1 --seconds 5 --trace 0

Workloads (see ``workloads.py``): ``playlist_batch``, ``playlist_incremental``
and ``warehouse_analytics``.  One invocation is one fresh process running one
workload on ``local[<cores>]`` as a single closed-loop client:

1. generate the inputs from ``--seed`` into a private work directory;
2. set the session up cold -- ``get_spark`` starts the JVM, then the first
   job and the first Python-worker job run -- and report it as ``setup_s``;
3. run one untimed warm pass with the full correctness checks;
4. run timed operations until ``--seconds`` have passed and at least the
   workload's ``MIN_OPS`` have run, finishing the operation in flight
   (``playlist_incremental`` always lands all its staged increments).

``op_p50_ms`` is the median latency of one operation (a pipeline pass, an
increment landing, an analyst session over the query mix) and
``ops_per_s`` the operations completed per second of timed work.

Every metric is printed by name with its unit; the last line is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``.  With
``--trace 0`` its metrics are the end-to-end ones, measured untraced.  With
``--trace 1`` every other timed operation runs traced (spans around each layer
call, Spark jobs/stages/tasks counted per call through job groups), the
metrics are the per-layer ones, and the spans are written as JSON lines
under ``.perfbench_work/spans/``.

Which end-to-end metric each per-layer metric should move, on which
workload (per-layer metrics read 0 on the workloads that do not run them):

=====================================================  =======================  ====================
per-layer metrics                                      moves                    on
=====================================================  =======================  ====================
``session.get_spark_s``, ``session.worker_spawn_s``    ``setup_s``              all
``sources.*``, ``batch_tracks_per_s``                  ``op_p50_ms``,           playlist_batch
                                                       ``ops_per_s``
``etl.*``, ``gold_bytes_per_input_byte``               ``op_p50_ms``,           playlist_batch
                                                       ``ops_per_s``
``streaming.*``, ``incr_latency_*``,                   ``op_p50_ms``,           playlist_incremental
``silver_write_amp``                                   ``ops_per_s``
``queries.<entry>.*``, ``operators.<entry>.*``,        ``op_p50_ms``,           warehouse_analytics
``analytics_*``                                        ``ops_per_s``
``peak_rss_mb``, ``failed_op_share``, ``trace.*``      none (health of a run)   all
=====================================================  =======================  ====================
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def _configure_env(work: Path) -> int:
    """Environment for the engine, set before the JVM starts: the repo on
    the Python workers' path, parallelism pinned to the usable cores, a
    JVM heap that fits the machine, and private Spark scratch space."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        total_gb = int(fh.readline().split()[1]) // (1024 * 1024)
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = str(ROOT) + (os.pathsep + path if path else "")
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_DRIVER_MEMORY"] = f"{max(1, min(4, total_gb // 6))}g"
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    (work / "tmp").mkdir(parents=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    return cpus


def _identity(batches):
    yield from batches


def _setup(get_spark, work: Path, cpus: int) -> tuple[object, float, float, float]:
    """The cold session set-up a user of ``get_spark`` goes through: start
    the session (and its JVM), run the first job, then the first
    Python-worker job (one task per core).  Returns the session, the
    set-up time and its ``get_spark`` and worker-spawn shares."""
    t0 = time.perf_counter()
    spark = get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            # keep the JVM's temp files (unpacked native libraries, perf
            # data) inside the work directory
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData"
            ),
        },
    )
    t1 = time.perf_counter()
    spark.range(1000).selectExpr("sum(id)").collect()
    t2 = time.perf_counter()
    spark.range(64, numPartitions=cpus).mapInPandas(_identity, "id long").count()
    t3 = time.perf_counter()
    return spark, t3 - t0, t1 - t0, t3 - t2


def _shutdown(spark) -> None:
    """Stop the session, then the JVM (it exits when its stdin closes),
    and wait until it and every process it started have exited."""
    from pyspark import SparkContext

    from meter import descendants

    gateway = SparkContext._gateway
    children = descendants(os.getpid())
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        gateway.shutdown()
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    while children and time.monotonic() < deadline:
        children = {p for p in children if _alive(p)}
        time.sleep(0.1)
    for pid in children:  # Python workers that outlived their JVM
        os.kill(pid, signal.SIGKILL)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def _jvm_pid() -> int:
    from meter import proc_tree

    me = os.getpid()
    for pid, parent in proc_tree().items():
        if parent == me:
            with open(f"/proc/{pid}/comm") as fh:
                if fh.read().strip() == "java":
                    return pid
    raise RuntimeError("no Spark JVM child found")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "spotify_etl_pipeline_spark").is_dir():
        print(f"perfbench: no engine package under {ROOT}", file=sys.stderr)
        return 2
    run_id = f"{args.workload}-seed{args.seed}-{os.getpid()}"
    work = ROOT / ".perfbench_work" / run_id
    cpus = _configure_env(work)
    sys.path.insert(0, str(ROOT))

    from meter import Tracer, contention, median, peak_rss_mb, tail
    from spotify_etl_pipeline_spark.session import get_spark
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    contended = contention()
    tracer = Tracer(enabled=bool(args.trace), run_id=run_id)
    wl = WORKLOADS[args.workload](work, args.seed, tracer)
    spark = None
    phases = {"start": time.perf_counter()}
    try:
        wl.prepare()
        phases["prepare"] = time.perf_counter()
        spark, setup_s, get_spark_s, spawn_s = _setup(get_spark, work, cpus)
        spark.sparkContext.setLogLevel("ERROR")
        tracer.sc = spark.sparkContext

        phases["setup"] = time.perf_counter()
        results = list(wl.warm(spark))
        start = phases["warm"] = time.perf_counter()
        k = 0
        # traced runs alternate traced and untraced operations: make two
        # of each, so the first (slower) operation does not decide alone
        min_ops = max(wl.MIN_OPS, 4 if args.trace else 1)
        while time.perf_counter() - start < args.seconds or k < min_ops:
            k += 1
            try:
                done = wl.measure(spark, k)
                if done is None:  # the workload ran out of inputs
                    break
                results.extend(done)
            except Exception as exc:  # one failed pass must not hide the rest
                wl.problems.append(f"pass {k}: {type(exc).__name__}: {exc}"[:400])
                results.append(False)
                if results[-3:] == [False] * 3:
                    break
        phases["measure"] = time.perf_counter()
        results.extend(wl.finish(spark))
        phases["finish"] = time.perf_counter()
        end_contended = contention(measure_cpu=False)
        rss = peak_rss_mb(_jvm_pid())
        wl_metrics = wl.metrics()
    finally:
        if spark is not None:
            _shutdown(spark)
        shutil.rmtree(work, ignore_errors=True)

    attempted = len(results)
    failed = results.count(False)
    untraced = wl.op_s if not args.trace else []
    metrics: dict[str, tuple[float, str]] = {}
    if untraced:
        metrics.update({
            "setup_s": (setup_s, "s"),
            "op_p50_ms": (median(untraced) * 1e3, "ms"),
            "ops_per_s": (len(untraced) / sum(untraced), "1/s"),
        })
    layer = {
        "session.get_spark_s": (get_spark_s, "s"),
        "session.worker_spawn_s": (spawn_s, "s"),
        "peak_rss_mb": (rss, "MB"),
        "failed_op_share": (failed / attempted, "ratio"),
        **wl_metrics,
    }
    if args.trace:
        overhead = wl.trace_overhead()
        if overhead is not None:
            layer["trace.overhead_share"] = (overhead, "ratio")
        layer["trace.stages_unknown"] = (
            sum(s.counts.stages_unknown for s in tracer.spans if s.counts), "count")
        tracer.write(ROOT / ".perfbench_work" / "spans" / f"{run_id}.jsonl")
    metrics.update(layer)

    print(f"workload {args.workload} seed {args.seed} trace {args.trace}: "
          f"{attempted} operations, {failed} failed, cpus {cpus}")
    for name, (value, unit) in sorted(metrics.items()):
        print(f"  {name} = {value:.6g} {unit}")
    marks = list(phases.items())
    print("  phases: " + ", ".join(
        f"{b[0]} {b[1] - a[1]:.1f} s" for a, b in zip(marks, marks[1:])))
    print("  op latencies ms: " + " ".join(
        f"{x * 1e3:.0f}" for x in wl.op_s + wl.traced_op_s))
    t = tail(untraced) if untraced else None
    if t:
        print(f"  op_tail_ms = {t[0] * 1e3:.6g} ms (p{t[1]:.1f}, n={t[2]})")
    elif untraced:
        print(f"  op_tail_ms: n={len(untraced)} operations, too few for a tail")
    for p in wl.problems:
        print(f"  CHECK FAILED: {p}")
    for label, ev in (("start", contended), ("end", end_contended)):
        if ev is not None:
            print(f"  CONTENDED at {label}: {json.dumps(ev)}")

    # the result line carries exactly the metrics BENCHMARK.json declares
    # for this mode; a layer this workload does not exercise reads 0
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    declared = spec["per_layer" if args.trace else "end_to_end"]
    print(json.dumps({
        "correct": not wl.problems,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            m["name"]: {"value": metrics.get(m["name"], (0.0,))[0], "unit": m["unit"]}
            for m in declared
        },
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
