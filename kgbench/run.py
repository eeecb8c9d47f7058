#!/usr/bin/env python3
"""kgp transcript-pipeline benchmark.

    python3 kgbench/run.py --workload batch_build --seed 1 --seconds 20 --trace 0

Runs one workload in this process: seeded synthetic inputs are written to
parquet under ``.kgbench/`` in the checkout, the pandas oracle computes the
reference outputs, then one Spark driver on ``local[k]`` (k = nproc unless
``--cores`` says fewer) runs a closed loop of reps, back to back, for
``--seconds``; every rep is checked against the oracle.  ``--trace 1``
additionally turns on the Spark event log and runs one staged, traced rep
that yields the per-layer metrics.  ``--workload all`` runs every workload,
each in its own fresh process.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``).  Exit code 1 if any rep failed its
check, 2 on a usage error.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOAD_NAMES = ("batch_build", "link_heavy")


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="measure reps back to back for at least this long")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=len(os.sched_getaffinity(0)),
                    help="k in local[k]; default and maximum: nproc")
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="'tiny' shrinks the inputs for the self-tests")
    args = ap.parse_args(argv)
    nproc = len(os.sched_getaffinity(0))
    if not 1 <= args.cores <= nproc:
        ap.error(f"--cores {args.cores} outside 1..nproc ({nproc}): local[k] with k > nproc "
                 "oversubscribes the host and mislabels the measurement")
    return args


def isolate_environment(work_dir: str) -> None:
    """Keep every file Spark, the JVM and the Python workers write inside
    the run's work directory, and let the workers import kgp."""
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["KGP_SPARK_LOCAL_DIRS"] = os.path.join(work_dir, "spark-local")
    os.environ["SPARK_SUBMIT_OPTS"] = (os.environ.get("SPARK_SUBMIT_OPTS", "")
                                       + f" -Djava.io.tmpdir={tmp}").strip()
    os.environ.setdefault("KGP_DRIVER_MEM", "3g")
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    import tempfile

    tempfile.tempdir = tmp
    sys.path[:0] = [ROOT, HERE]


def stop_spark(spark) -> None:
    """Stop the session, end the JVM and wait until it and every Python
    worker it forked have exited."""
    from pyspark import SparkContext

    from tracing import descendants

    gateway = SparkContext._gateway
    procs = descendants(os.getpid())
    spark.stop()
    if gateway is None:
        return
    jvm = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if jvm is not None:
        jvm.stdin.close()  # the gateway server exits on EOF
        try:
            jvm.wait(timeout=60)
        except subprocess.TimeoutExpired:
            jvm.kill()
            jvm.wait()
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline:
        alive = [p for p in procs if os.path.exists(f"/proc/{p}")]
        if not alive:
            return
        time.sleep(0.1)
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def env_record(args, sizes: dict, spark) -> dict:
    return {"nproc": len(os.sched_getaffinity(0)), "master": f"local[{args.cores}]",
            "python": platform.python_version(), "spark": spark.version,
            "java": spark.sparkContext._jvm.System.getProperty("java.version"),
            "seed": args.seed, "workload": args.workload, "sizes": sizes}


def run_workload(args) -> int:
    work_dir = os.path.join(ROOT, ".kgbench", f"{args.workload}-seed{args.seed}-{os.getpid()}")
    shutil.rmtree(work_dir, ignore_errors=True)
    isolate_environment(work_dir)
    try:
        return _run_workload(args, work_dir)
    finally:
        shutil.rmtree(work_dir, ignore_errors=True)


def _run_workload(args, work_dir: str) -> int:
    import dataclasses
    import gc
    from concurrent.futures import ThreadPoolExecutor

    from kgp.session import get_spark

    import gate
    import inputs as inputs_mod
    from metrics import END_TO_END, PER_LAYER
    from tracing import Tracer, find_event_log, parse_event_log, peak_rss_mb
    from workloads import WORKLOADS, Context, staged_rep, timed_rep

    import_s = time.perf_counter() - T_START
    wl = WORKLOADS[args.workload]
    sizes = wl.tiny if args.size == "tiny" else wl.sizes
    if not args.trace:
        sizes = dataclasses.replace(sizes, stream_files=0)

    def prepare():
        inp = inputs_mod.make_inputs(sizes, args.seed, work_dir)
        stream = wl.storage_passes and args.trace
        return (inp, inputs_mod.oracle_tables(inp),
                inputs_mod.oracle_stream_triples(inp) if stream else None)

    # -- setup: session start + one untimed warm-up rep ----------------------
    # The inputs and the oracle are computed in a second thread while the
    # JVM starts (the driver thread only waits on it); neither is timed.
    extra = {"spark.sql.warehouse.dir": os.path.join(work_dir, "spark-warehouse")}
    if args.trace:
        log_dir = os.path.join(work_dir, "events")
        os.makedirs(log_dir)
        # one plain JSON-lines file: no rolling, no compression
        extra.update({"spark.eventLog.enabled": "true", "spark.eventLog.dir": f"file://{log_dir}",
                      "spark.eventLog.rolling.enabled": "false",
                      "spark.eventLog.compress": "false"})
    with ThreadPoolExecutor(max_workers=1) as pool:
        prepared = pool.submit(prepare)
        t = time.perf_counter()
        spark = get_spark(master=f"local[{args.cores}]", app_name=f"kgbench-{wl.name}",
                          extra_conf=extra)
        start_s = time.perf_counter() - t
        try:
            inp, ref_tables, ref_stream = prepared.result()
        except BaseException:
            stop_spark(spark)
            raise
    tracer = Tracer(sc=spark.sparkContext if args.trace else None)
    try:
        ctx = Context(spark, inp, work_dir, spark.sparkContext.defaultParallelism)
        failures: list[str] = []

        def run_rep(rep_id: str, layer: str):
            with tracer.span(rep_id, layer, rep_id=rep_id):
                try:
                    wall, got = timed_rep(ctx, wl)
                except Exception:  # a rep that raises counts as failed; the loop goes on
                    traceback.print_exc()
                    failures.append(rep_id)
                    return None, None
            return wall, got

        warmup_s, warmup_got = run_rep("warmup", "session")
        setup_s = import_s + start_s + warmup_s if warmup_s is not None else float("nan")

        refs = {name: gate.reference_digest(spark, ref_tables[name], cols)
                for name, cols in (("edges", gate.EDGE_COLS), ("entity_map", gate.ENTITY_MAP_COLS))}
        if not wl.check_entity_map:
            refs.pop("entity_map")

        def check(rep_id: str, got) -> None:
            if got is not None:
                bad = gate.mismatches(got, refs)
                if bad:
                    print(f"kgbench: {rep_id} output differs from the oracle: {bad}", file=sys.stderr)
                    failures.append(rep_id)

        check("warmup", warmup_got)

        # -- timed closed loop --------------------------------------------
        walls: list[float] = []
        timed = 0
        t_loop = time.perf_counter()
        while time.perf_counter() - t_loop < args.seconds or timed < wl.min_reps:
            gc.collect()
            timed += 1
            rep_id = f"rep{timed}"
            wall, got = run_rep(rep_id, "exec")
            if wall is not None:
                check(rep_id, got)
                walls.append(wall)
            if timed >= wl.min_reps and not walls:
                break
        attempted = 1 + timed  # the warm-up rep is checked too

        per_layer = counts = None
        if args.trace:
            attempted += 1
            try:
                counts, got = staged_rep(ctx, wl, tracer)
                want = dict(refs)
                want["entity_map"] = gate.reference_digest(spark, ref_tables["entity_map"],
                                                           gate.ENTITY_MAP_COLS)
                if ref_stream is not None:
                    want["stream_triples"] = gate.reference_digest(spark, ref_stream,
                                                                   gate.RAW_TRIPLE_COLS)
                bad = gate.mismatches(got, want)
                if bad:
                    print(f"kgbench: traced rep differs from the oracle: {bad}", file=sys.stderr)
                    failures.append("traced")
            except Exception:
                traceback.print_exc()
                failures.append("traced")
                counts = None
            rss = peak_rss_mb()
        env = env_record(args, dataclasses.asdict(sizes), spark)
    finally:
        stop_spark(spark)

    if counts is not None and walls:
        stats = parse_event_log(find_event_log(log_dir), tracer)
        per_layer = layer_metrics(tracer, stats, counts, walls, start_s, warmup_s, rss)
        tracer.dump(os.path.join(ROOT, ".kgbench", "traces", f"{wl.name}-seed{args.seed}.json"))

    failed = len(set(failures))
    wall_s = statistics.median(walls) if walls else float("nan")
    e2e = {
        "setup_s": setup_s,
        "wall_s": wall_s,
        "turns_per_s": inp.turns / wall_s,
        "entities_per_s": inp.entities / wall_s,
    }
    env.update(turns=inp.turns, entities=inp.entities, reps=len(walls),
               walls_s=walls, failed_frac=failed / attempted)
    print("kgbench env " + json.dumps(env))
    units = {n: u for n, u, *_ in END_TO_END + PER_LAYER}
    for name, value in e2e.items():
        print(f"kgbench {wl.name} {name} = {value:.6g} {units[name]}")
    print(f"kgbench {wl.name} failed_frac = {env['failed_frac']:.6g} ratio "
          f"({failed} of {attempted} reps)")

    if args.trace:
        # layers a workload does not drive (io, run, stream on link_heavy) read 0
        values = per_layer or {}
        metrics = {n: {"value": finite(values.get(n, 0.0)), "unit": u} for n, u, _ in PER_LAYER}
    else:
        metrics = {n: {"value": finite(e2e[n]), "unit": u} for n, u, *_ in END_TO_END}
    correct = failed == 0 and bool(walls) and (not args.trace or per_layer is not None)
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if correct else 1


def finite(x: float) -> float:
    """NaN (a metric a failed run could not measure) is not JSON; report 0."""
    return x if x == x else 0.0


def layer_metrics(tracer, stats, counts: dict, walls: list[float], start_s: float,
                  warmup_s: float, rss_mb: float) -> dict:
    """Per-layer metrics from the staged rep's spans, counts and event log."""
    from tracing import LAYERS

    m = dict(counts)
    pipeline = ("order", "extract", "link", "cc", "materialize")
    for layer in pipeline:
        m[f"{layer}.busy_s"] = tracer.busy_s(layer)
    for layer in LAYERS:
        m[f"{layer}.failed_tasks"] = stats[layer].failed_tasks
    for layer in ("order", "cc", "materialize"):
        m[f"{layer}.shuffle_write_bytes"] = stats[layer].shuffle_write_bytes
        m[f"{layer}.spill_bytes"] = stats[layer].spill_bytes
    m["session.start_s"] = start_s
    m["session.warmup_s"] = warmup_s
    m["session.peak_rss_mb"] = rss_mb
    m["order.kept_ratio"] = counts["order.rows_out"] / max(counts["order.rows_in"], 1)
    m["extract.executor_run_s"] = stats["extract"].executor_run_s
    m["extract.parallelism"] = stats["extract"].executor_run_s / max(m["extract.busy_s"], 1e-9)
    m["link.jobs"], m["link.tasks"] = stats["link"].jobs, stats["link"].tasks
    m["cc.jobs"] = stats["cc"].jobs
    m["io.write_s"] = sum(s.duration for s in tracer.spans if s.name.startswith("TableIO.write"))
    m["io.read_s"] = sum(s.duration for s in tracer.spans if s.name.startswith("TableIO.read"))
    staged = sum(m[f"{layer}.busy_s"] for layer in pipeline)
    m["exec.overlap_s"] = m["trace.overhead_s"] = staged - statistics.median(walls)
    return m


def run_all(args) -> int:
    """Every workload in its own fresh process; metrics prefixed by workload."""
    merged = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in WORKLOAD_NAMES:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace), "--cores", str(args.cores), "--size", args.size]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        lines = proc.stdout.strip().splitlines()
        print("\n".join(lines[:-1]))
        try:
            res = json.loads(lines[-1])
        except (IndexError, json.JSONDecodeError):
            print(f"kgbench: workload {name} printed no result (exit {proc.returncode})",
                  file=sys.stderr)
            return 1
        merged["correct"] &= res["correct"] and proc.returncode == 0
        merged["attempted"] += res["attempted"]
        merged["failed"] += res["failed"]
        merged["metrics"].update({f"{name}.{k}": v for k, v in res["metrics"].items()})
    print(json.dumps(merged))
    return 0 if merged["correct"] else 1


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "kgp", "pipeline", "exec.py")):
        print(f"kgbench: no kgp package under {ROOT}; run from a checkout of the repository",
              file=sys.stderr)
        return 2
    if args.workload == "all":
        return run_all(args)
    return run_workload(args)


if __name__ == "__main__":
    sys.exit(main())
