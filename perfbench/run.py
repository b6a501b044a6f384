"""Benchmark of the bigdime_spark validation engine.

Runs one workload in one long-lived process on ``local[N]`` (N = 4, or
fewer cores if the machine has fewer): set-up (session start and seeded
inputs), then a closed loop with one client, each operation a
``bigdime_spark.cli.main`` call that starts when the previous one has
returned, for at least ``--seconds``. Every operation's outputs are
checked. The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.

    python3 perfbench/run.py --workload suite_snapshot --seed 1 --seconds 1 --trace 0

Run it from the repository root. Scratch files go to ``.perfbench/``.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback


def _process_start() -> float:
    """This process's start time on the ``time.monotonic`` clock."""
    try:
        with open("/proc/self/stat") as f:
            start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
        with open("/proc/uptime") as f:
            uptime = float(f.read().split()[0])
        return time.monotonic() - (uptime - start_ticks / os.sysconf("SC_CLK_TCK"))
    except (OSError, IndexError, ValueError):
        return time.monotonic()


PROCESS_START = _process_start()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
#: local[N]: the benchmark's core budget, capped by the machine
CORES = 4
#: driver heap: the session default (24g) exceeds a 16 GB machine
DRIVER_MEMORY = "1g"
#: JVM flags of the benchmark's session. The heap is committed and
#: touched at start (-Xms = -Xmx, pre-touch), so resident memory does not
#: hinge on when the collector grows it. Each run's JVM lives about a
#: minute and each operation is mostly first-time code: the C1 compiler
#: alone keeps up with it, where C2's background compiles spent about 20
#: CPU seconds per operation and made operations spread the most
JVM_FLAGS = f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch -XX:TieredStopAtLevel=1"

END_TO_END_UNITS = {"setup_s": "s", "run_cpu_s": "s", "peak_rss_mb": "MB"}
PER_LAYER_UNITS = {
    "session.get_spark_s": "s",
    "sources.synth.generate_s": "s",
    "sources.tables.write_s": "s",
    "sources.tables.bytes_written": "bytes",
    "plans.lineage.validated_parts_s": "s",
    "plans.lineage.append_s": "s",
    "plans.suite.run_s": "s",
    "plans.suite.driver_s": "s",
    "plans.suite.jobs": "count",
    "plans.suite.stages": "count",
    "plans.suite.tasks": "count",
    "operators.stats.fused_agg_s": "s",
    "operators.stats.input_bytes_per_row": "bytes",
    "operators.checksum.input_bytes_per_row": "bytes",
    "operators.decode.run_s": "s",
    "operators.decode.images_per_s": "img/s",
    "operators.keyed.run_s": "s",
    "operators.keyed.shuffle_write_bytes": "bytes",
    "operators.drift.run_s": "s",
    "operators.drift.tasks": "count",
    "plans.curate.gates_s": "s",
    "operators.dedup.exact_s": "s",
    "operators.dedup.minhash_s": "s",
    "operators.dedup.lsh_candidate_pairs": "count",
    "operators.dedup.lsh_verified_ratio": "ratio",
    "operators.dedup.containment_s": "s",
    "operators.decontam.hot_gram_s": "s",
    "operators.decontam.span_coverage_s": "s",
    "operators.sampling.shard_pack_s": "s",
    "spark.executor_utilization": "ratio",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.gc_s": "s",
    "spark.persisted_rdds_leaked": "count",
}


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _engine_env(work: str) -> None:
    """Keep Spark's scratch inside ``work`` and put the repository on
    the import path of the Python workers Spark forks (they do not
    inherit ``sys.path``)."""
    for sub in ("local", "tmp"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)


def _start_session(n_cores: int, work: str):
    from bigdime_spark.session import ENGINE_CONFS, get_spark

    java_opts = (
        ENGINE_CONFS.get("spark.driver.extraJavaOptions", "")
        + f" -Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
        + f" {JVM_FLAGS}"
    )
    spark = get_spark(
        "perfbench",
        master=f"local[{n_cores}]",
        # one shuffle partition per core, as the engine's own tests size it
        shuffle_partitions=n_cores,
        extra_confs={
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.driver.extraJavaOptions": java_opts.strip(),
            "spark.local.dir": os.path.join(work, "local"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_session(spark) -> None:
    """Stop Spark, end the JVM and wait until every process it started
    (the JVM, the Python worker daemon and its workers) has exited."""
    from pyspark import SparkContext

    from probes import descendants

    started = descendants(os.getpid())
    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        # the JVM exits when its stdin (the Python side) closes
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=10)
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline:
        alive = [p for p in started if os.path.exists(f"/proc/{p}")]
        if not alive:
            return
        time.sleep(0.1)
    for p in alive:
        with contextlib.suppress(ProcessLookupError):
            os.kill(p, signal.SIGKILL)
    while any(os.path.exists(f"/proc/{p}") for p in alive) and time.monotonic() < deadline + 10:
        time.sleep(0.1)


def _run_cli(argv: list[str]) -> tuple[int, dict | None]:
    from bigdime_spark import cli

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        rc = cli.main(argv)
    summary = None
    for line in reversed(buf.getvalue().splitlines()):
        if line.startswith("{"):
            summary = json.loads(line)
            break
    return rc, summary


def _install_op_spans(tracer, counters, results):
    """Span the public calls one operation makes; returns the undo.
    Each ``ValidationSuite.run`` result is appended to ``results``."""
    import bigdime_spark.plans.curate as curate_mod
    import bigdime_spark.sources.tables as tables
    from bigdime_spark.plans.lineage import LineageStore
    from bigdime_spark.plans.suite import ValidationSuite
    from workloads import dir_bytes

    def wrote(rec, args, kwargs, result):
        rec["bytes"] = dir_bytes(kwargs.get("ref", args[1] if len(args) > 1 else None))

    undo = [
        tracer.wrap(tables, "read_table", "sources.tables.read"),
        tracer.wrap(tables, "write_table", "sources.tables.write", after=wrote),
        tracer.wrap(LineageStore, "validated_parts", "plans.lineage.validated_parts"),
        tracer.wrap(LineageStore, "append", "plans.lineage.append"),
        tracer.wrap(curate_mod, "curate", "plans.curate.curate"),
    ]
    suite_run = ValidationSuite.run

    def spanned_suite_run(self, *args, **kwargs):
        with tracer.probe():
            mark = counters.mark()
        with tracer.span("plans.suite.run") as rec:
            result = suite_run(self, *args, **kwargs)
        with tracer.probe():
            rec.update(counters.since(mark))
        results.append(result)
        return result

    ValidationSuite.run = spanned_suite_run
    undo.append(lambda: setattr(ValidationSuite, "run", suite_run))
    return lambda: [u() for u in reversed(undo)]


def _tail(walls: list[float]) -> tuple[float, float] | None:
    """(percentile, value) of the highest percentile with at least ten
    operations beyond it; None below eleven operations."""
    n = len(walls)
    if n < 11:
        return None
    k = n - 10
    return 100.0 * k / n, sorted(walls)[k - 1]


def _operate(spark, workload, counters, tracer, rss, out: str, i: int, traced: bool) -> dict:
    """One operation: the timed ``cli.main`` call, then, outside the
    timed interval, the per-layer figures of a traced operation, cache
    hygiene and the output check."""
    from probes import cpu_seconds

    mark = counters.mark() if traced else None
    results: list = []
    undo = _install_op_spans(tracer, counters, results) if traced else None
    probe_before = tracer.probe_s
    op = {"errors": [], "layers": {}}
    rc = summary = None
    try:
        with rss.active():
            t0 = time.monotonic()
            cpu0, sampler0 = cpu_seconds(), rss.cpu_s
            try:
                with tracer.span("op", workload=workload.name):
                    rc, summary = _run_cli(workload.argv(out, i))
            finally:
                op["wall"] = time.monotonic() - t0
                # the memory sampler's own reads are not the operation's
                op["cpu"] = cpu_seconds() - cpu0 - (rss.cpu_s - sampler0)
    except Exception:
        op["errors"].append(traceback.format_exc(limit=5))
    finally:
        if undo is not None:
            undo()
    op["probe_s"] = tracer.probe_s - probe_before
    if traced and results and not op["errors"]:
        try:
            op["layers"] = workload.frame_metrics(results[-1])
        except Exception:
            op["errors"].append(traceback.format_exc(limit=5))
    # cache hygiene: `run` never releases its persisted frames, and a
    # later operation in this session could replay them by plan match
    op["leaked"] = counters.persisted_rdds()
    spark.catalog.clearCache()
    if traced:
        op["engine"] = counters.since(mark)
    if not op["errors"]:
        if rc != workload.expected_rc:
            op["errors"].append(f"exit code {rc}, expected {workload.expected_rc}")
        if summary is None:
            op["errors"].append("no summary line")
        else:
            op["errors"] += workload.check(summary, out)
            if workload.items:
                op["items"] = workload.items(summary)
    if not traced:
        shutil.rmtree(out, ignore_errors=True)
    if op["errors"]:
        print(f"# op{i} failed: {op['errors']}", file=sys.stderr)
    return op


def main(argv=None) -> int:
    args = _parse(argv)
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    if not os.path.isfile(os.path.join(ROOT, "bigdime_spark", "cli.py")):
        print(f"no bigdime_spark package under {ROOT}: run from a repository checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from probes import EngineCounters, RssSampler, Tracer, host_info

    n_cores = min(CORES, len(os.sched_getaffinity(0)))
    work = os.path.join(ROOT, ".perfbench", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    _engine_env(work)
    tracer = Tracer(enabled=bool(args.trace))
    workload = WORKLOADS[args.workload](work, args.seed)

    with tracer.span("session.get_spark"):
        spark = _start_session(n_cores, work)
    rss = RssSampler()
    try:
        counters = EngineCounters(spark)
        host = host_info(spark, ROOT, n_cores, args.seed)
        workload.setup(spark, tracer)
        setup_s = time.monotonic() - PROCESS_START

        ops = []
        deadline = time.monotonic() + args.seconds
        while not ops or time.monotonic() < deadline:
            i = len(ops)
            tracer.trace_id = f"op{i}"
            out = os.path.join(work, "ops", f"op{i}")
            ops.append(_operate(spark, workload, counters, tracer, rss, out, i, bool(args.trace)))

        replay = {}
        replay_failed = 0
        if args.trace:
            tracer.trace_id = "replay"
            try:
                replay = workload.replay(spark, tracer, counters, out)
            except Exception:
                replay_failed = 1
                print(f"# replay failed: {traceback.format_exc(limit=5)}", file=sys.stderr)
            spark.catalog.clearCache()
    finally:
        rss.close()
        _stop_session(spark)

    walls = [op["wall"] for op in ops]
    cpus = [op["cpu"] for op in ops]
    attempted = len(ops) + bool(args.trace)
    failed = sum(bool(op["errors"]) for op in ops) + (replay_failed if args.trace else 0)
    p50 = statistics.median(walls)
    cpu_p50 = statistics.median(cpus)
    print(f"# host {json.dumps(host)}")
    print(f"# workload {args.workload} sizes {json.dumps(workload.sizes)}")
    print(f"# closed loop, 1 client, local[{n_cores}]: {len(walls)} operations, walls {walls}, cpu {cpus}")
    if args.trace:
        metrics = _per_layer(tracer, replay, ops, n_cores)
        probe_s = sum(op["probe_s"] for op in ops)
        print(
            f"trace_overhead {probe_s / (sum(walls) - probe_s):+.4f} of the untraced operation wall "
            f"({probe_s:.3f} s of probe work in {sum(walls):.3f} s of traced operations)"
        )
        tracer.dump(os.path.join(ROOT, ".perfbench", f"trace-{args.workload}.json"))
    else:
        metrics = {"setup_s": setup_s, "run_cpu_s": cpu_p50, "peak_rss_mb": rss.peak_bytes / 2**20}
        print(f"run_p50_s {p50} s")
        items = [op["items"] for op in ops if "items" in op]
        if items:
            print(f"images_per_s {statistics.median(items) / p50} img/s")
        tail = _tail(walls)
        print(
            "run_tail_s "
            + (f"p{tail[0]:.1f}={tail[1]} s (n={len(walls)})" if tail else
               f"n/a ({len(walls)} operations, needs 11)")
        )
    print(f"op_failure_ratio {failed / attempted} ({failed}/{attempted})")
    units = PER_LAYER_UNITS if args.trace else END_TO_END_UNITS
    for name, value in metrics.items():
        print(f"{name} {value} {units[name]}")
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
            }
        )
    )
    return 0


def _per_layer(tracer, replay, ops, n_cores) -> dict:
    """Per-layer metrics of the traced run; layers the workload never
    calls read 0."""
    m = {name: 0 for name in PER_LAYER_UNITS}
    m["session.get_spark_s"] = tracer.total("session.get_spark")
    m["sources.synth.generate_s"] = tracer.total("sources.synth.generate")
    writes = tracer.named("sources.tables.write")
    m["sources.tables.write_s"] = sum(s["end"] - s["start"] for s in writes)
    m["sources.tables.bytes_written"] = sum(s.get("bytes", 0) for s in writes)
    suite = tracer.named("plans.suite.run")
    if suite:
        m["plans.suite.run_s"] = sum(s["end"] - s["start"] for s in suite)
        m["plans.suite.driver_s"] = sum(s["end"] - s["start"] - s["job_busy_s"] for s in suite)
        for k in ("jobs", "stages", "tasks"):
            m[f"plans.suite.{k}"] = sum(s[k] for s in suite)
    for op in ops:
        m.update(op["layers"])
    m.update(replay)
    engine = [op["engine"] for op in ops]
    n = len(engine)
    m["spark.executor_utilization"] = (
        sum(e["executor_run_s"] for e in engine) / (sum(op["wall"] for op in ops) * n_cores)
    )
    m["spark.shuffle_write_bytes"] = sum(e["shuffle_write_bytes"] for e in engine) / n
    m["spark.spill_bytes"] = sum(e["spill_bytes"] for e in engine) / n
    m["spark.gc_s"] = sum(e["gc_s"] for e in engine) / n
    m["spark.persisted_rdds_leaked"] = max(op["leaked"] for op in ops)
    return m


if __name__ == "__main__":
    sys.exit(main())
