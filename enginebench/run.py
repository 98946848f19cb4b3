"""Engine benchmark for tinybrain_spark.

    python3 enginebench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root.  One Python process, one client thread,
Spark at ``local[min(nproc, 4)]``.  Workloads (see BENCHMARK.json):

* ``build_uniform`` — each op is one fresh ``RollupEngine.run_pyramid``
  (avg, window 4, 3 tiers) over fixed-length rows, so every Arrow batch
  takes the zero-copy uniform path; each build is followed by eight
  rounds of served reads of it through ``serving.read_series`` (one
  routed to each of tiers 1-3, one a residual step past tier 3).
* ``ingest_serve`` — a closed loop over a continuous aggregate: fold a
  batch + Gorilla-encode, enforce retention, then 6 seeded reads
  (gap-filled dashboard reads of the aggregate and blob decodes).

``setup_s`` is the wall from process start to the first timed op: JVM
start, untimed warm-up ops of every kind (a small build and four rounds
of reads of it, or a fold, a retention pass and two reads), and input
generation, which runs SETUP_REPEATS times and counts once at its median.

Every op's output is checked (kernels.pool row equality, exact point
counts, one lineage row per (tier, source), aggregate == aggregate_batch
over the retained docs, blob round trip); a failed op or check counts in
``failed``.  The last stdout line is the result; the line before it is a
report with the workload's own metric names, sample counts, the sizes of
the inputs and the host (nproc, load, the share of CPU time the host
gave to other guests over the run, CPU calibration).

A run starts a new cycle while fewer than ``--seconds`` have passed,
and makes at least one build cycle or four ingest cycles.  Each of these
lasts longer than BENCHMARK.json's run_seconds on this engine, so every
run makes the same ops: with a time box, a slower build would leave
fewer reads, taken earlier in the JVM's warm-up, and the read latency
would follow the build's.  With ``--trace 1`` the run makes at
least three cycles; wrappers from ``trace.py`` record spans around the
engine's public functions on the odd ones, the even ones after the
first run untraced and give the tracing overhead, and the isolated
probes run after the loop.  The metrics then are the per-layer ones.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("build_uniform", "ingest_serve")
SETUP_REPEATS = 3
# a traced run stops adding cycles past this age, so it ends in 180 s
CAP_S = 110

LAYER_TIME = (
    "rollup", "catalog", "checkpoint", "serving", "aggregates", "compress", "gapfill",
    "retention",
)


def _median(xs):
    xs = sorted(xs)
    if not xs:
        return 0.0
    m = len(xs) // 2
    return float(xs[m]) if len(xs) % 2 else (xs[m - 1] + xs[m]) / 2.0


def _quantile(xs, q):
    xs = sorted(xs)
    if not xs:
        return 0.0
    return float(xs[min(len(xs) - 1, int(q * len(xs)))])


def _cpu_calib_kips(seconds: float = 0.25, samples: int = 2) -> float:
    """Single-core speed: thousands of iterations per second of a fixed
    cache-resident elementwise numpy loop (recorded, never a gate)."""
    import numpy as np

    a = np.ones(65536, dtype=np.float64)
    best = 0.0
    for _ in range(samples):
        n, t0 = 0, time.perf_counter()
        while time.perf_counter() - t0 < seconds:
            (a * 1.0000001 + 0.5).sum()
            n += 1
        best = max(best, n / (time.perf_counter() - t0) / 1000.0)
    return best


def _cpu_ticks() -> list[int]:
    """Host-wide CPU time counters (user ... steal) from /proc/stat, or
    [] where there is none."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:9]]
    except OSError:
        return []


def _steal_share(before: list[int], after: list[int]) -> float:
    """Share of all CPU time over the run that the hypervisor gave to
    other guests (the 8th /proc/stat field)."""
    if not before or not after:
        return 0.0
    d = [a - b for a, b in zip(after, before)]
    return d[7] / sum(d) if sum(d) else 0.0


def _setup_env(work: str, cores: int) -> None:
    """Everything the run writes stays under ``work``; the engine's
    session sizes itself from SPARK_GRAFT_CPUS."""
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # both JVMs spark-submit starts (the launcher and Spark itself) read this
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def _start_spark(work: str, cores: int):
    from tinybrain_spark import session

    return session.get_spark(
        app_name="enginebench",
        master=f"local[{cores}]",
        shuffle_partitions=2 * cores,
        extra_conf={"spark.sql.warehouse.dir": os.path.join(work, "warehouse")},
    )


def _stop_spark(spark) -> None:
    """Stop the session, then close the JVM's stdin (it exits on EOF,
    taking its Python workers with it) and wait for it to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
        gateway.shutdown()
    finally:  # a JVM that is already gone still gets reaped
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)


def _read_kind(op) -> str:
    """'res<N>' for a served series read, else the read's own name."""
    i = op.info
    return f"res{i['resolution']}" if i.get("read") == "series" else i.get("read", "?")


def _end_to_end(run, loop_wall: float, setup_s: float) -> tuple[dict, dict]:
    """(end-to-end metrics, report under the workload's own names)."""
    loop = [o for o in run.ops if o.phase == "loop"]
    writes = [o for o in loop if o.kind in ("build", "ingest") and o.ok]
    reads = [o for o in loop if o.kind == "read" and o.ok]
    write_wall = sum(o.wall for o in writes)
    points = sum(o.info["points"] for o in writes)
    docs = sum(o.info["docs"] for o in writes)
    stored = [o.info["stored_bytes"] / o.info["data_points"] for o in writes]
    metrics = {
        "setup_s": setup_s,
        "write_p50_s": _median([o.wall for o in writes]),
        "points_per_s": points / write_wall if write_wall else 0.0,
        "serve_p50_s": _median([o.wall for o in reads]),
        "stored_bytes_per_point": _median(stored),
    }
    write_name = "pyramid_s" if writes and writes[0].kind == "build" else "ingest_p50_s"
    report = {
        write_name: metrics["write_p50_s"],
        "write_samples": len(writes),
        "points_per_s": metrics["points_per_s"],
        "docs_per_s": docs / write_wall if write_wall else 0.0,
        "stored_bytes_per_point": metrics["stored_bytes_per_point"],
        "serve_p50_s": metrics["serve_p50_s"],
        "serve_p90_s": _quantile([o.wall for o in reads], 0.9),
        "serve_samples": len(reads),
        "serve_p50_s_by_kind": {
            k: _median([o.wall for o in reads if _read_kind(o) == k])
            for k in sorted({_read_kind(o) for o in reads})},
        "residual_reads": sum(1 for o in reads if o.info.get("residual")),
        "ops_per_s": len(loop) / loop_wall,
        "loop_s": loop_wall,
        "spark_jobs_per_write": _median([o.jobs for o in writes]),
        "spark_tasks_per_write": _median([o.tasks for o in writes]),
        "spark_failed_tasks": sum(o.failed_tasks for o in run.ops),
    }
    return metrics, report


def _per_layer(run, setup: dict, probe: dict) -> dict:
    """Per-layer metrics of a traced run.  Span times are medians over
    the traced ops in which the span occurs, ``<layer>.self_s`` the
    median over traced cycles of the layer's summed self time; 0 when
    the workload never calls the layer.  Counts are per run unless the
    name says otherwise."""
    tr = run.tracer
    loop = [o for o in run.ops if o.phase == "loop"]
    index = {id(o): i for i, o in enumerate(run.ops)}
    traced = {index[id(o)]: o for o in loop if o.traced and o.ok}
    med = lambda d: _median([v for k, v in d.items() if k in traced])  # noqa: E731

    builds = [i for i, o in traced.items() if o.kind == "build"]
    writes = [i for i, o in traced.items() if o.kind in ("build", "ingest")]
    out = dict(probe)
    tiers = {}
    for t in (1, 2, 3):
        tiers[t] = tr.per_op("rollup.run_tier", lambda s, t=t: s.attrs["tier"] == t)
        out[f"rollup.tier{t}_s"] = med(tiers[t])
    selfs = tr.layer_self_per_op()
    out["rollup.spark_jobs"] = _median([o.jobs for o in loop if o.kind == "build"])
    out["rollup.tier_span_share"] = _median(
        [sum(tiers[t].get(i, 0.0) for t in tiers) / traced[i].wall for i in builds]
    )
    out["catalog.write_s"] = med(tr.per_op("catalog.write"))
    out["catalog.files_written"] = _median([traced[i].info["files"] for i in writes])
    out["catalog.tier_bytes_per_point"] = _median(
        [traced[i].info["data_bytes"] / traced[i].info["data_points"] for i in writes]
    )
    out["checkpoint.record_tier_s"] = med(tr.per_op("checkpoint.record_tier"))
    out["checkpoint.completed_sources_s"] = med(
        tr.per_op("checkpoint.completed_sources"))
    out["checkpoint.bytes"] = _median(
        [traced[i].info.get("checkpoint_bytes", 0) for i in writes])
    out["serving.plan_s"] = med(tr.per_op("serving.read_series"))
    out["serving.exec_s"] = med(tr.per_op("serving.exec"))
    out["serving.residual_reads"] = sum(
        1 for o in loop if o.kind == "read" and o.info.get("residual"))
    out["aggregates.update_s"] = med(tr.per_op("aggregates.update"))
    out["aggregates.state_files"] = _median(
        [o.info["state_files"] for o in loop if "state_files" in o.info])
    out["compress.encode_s"] = med(tr.per_op("compress.encode"))
    out["compress.decode_s"] = med(tr.per_op("compress.decode"))
    blob = [o.info for o in loop if "blob_points" in o.info]
    out["compress.bytes_per_point"] = _median(
        [b["blob_bytes"] / b["blob_points"] for b in blob])
    out["gapfill.fill_s"] = med(tr.per_op("gapfill.fill"))
    out["retention.enforce_s"] = med(tr.per_op("retention.enforce"))
    out["retention.rows_dropped"] = sum(
        o.info.get("rows_dropped", 0) for o in loop if o.kind == "retention")
    cycles: dict[int, dict[str, float]] = {}
    for layer, per_op in selfs.items():
        for i, v in per_op.items():
            if i in traced:
                c = cycles.setdefault(traced[i].cycle, {})
                c[layer] = c.get(layer, 0.0) + v
    for layer in LAYER_TIME:
        out[f"{layer}.self_s"] = _median([c.get(layer, 0.0) for c in cycles.values()])
    out["session.get_spark_s"] = setup["get_spark_s"]
    out["session.warmup_s"] = setup["warmup_s"]
    out["spark.failed_tasks"] = sum(o.failed_tasks for o in run.ops)
    for kind, name in (("write", "trace.write_overhead_s"),
                       ("read", "trace.read_overhead_s")):
        sel = [o for o in loop if o.ok and o.cycle >= 1 and (
            o.kind == "read" if kind == "read" else o.kind in ("build", "ingest"))]
        on = [o.wall for o in sel if o.traced]
        off = [o.wall for o in sel if not o.traced]
        out[name] = _median(on) - _median(off) if on and off else 0.0
    out["trace.spans"] = len(tr.spans)
    out["trace.span_cost_us"] = 1e6 * tr.span_cost_s()
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "tinybrain_spark", "rollup.py")):
        print("enginebench: tinybrain_spark not found next to enginebench/",
              file=sys.stderr)
        return 2

    # SIGTERM unwinds like an exception, so the JVM is stopped and the
    # work dir removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    nproc = len(os.sched_getaffinity(0))
    cores = min(nproc, 4)
    work = os.path.join(ROOT, ".bench_work", f"run-{os.getpid()}")
    _setup_env(work, cores)
    load_before = os.getloadavg()
    ticks_before = _cpu_ticks()
    try:
        return _run(args, work, nproc, cores, load_before, ticks_before)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, work, nproc, cores, load_before, ticks_before) -> int:
    from enginebench import workloads as W

    setup: dict = {}
    build = args.workload == "build_uniform"
    gen = []
    for _ in range(SETUP_REPEATS):
        t0 = time.perf_counter()
        spec = W.build_setup_inputs(work, args.seed) if build else \
            W.ingest_setup_inputs(work, args.seed)
        gen.append(time.perf_counter() - t0)
    setup["inputs_s"] = gen

    t0 = time.perf_counter()
    spark = _start_spark(work, cores)
    setup["get_spark_s"] = time.perf_counter() - t0
    run = W.Run(spark, work, args.seed)
    try:
        t0 = time.perf_counter()
        if build:
            W.build_cycle(run, spec["warm"], -1, trace=False,
                          rounds=W.WARM_READ_ROUNDS)
        else:
            W.ingest_prepare(run, spec)
        setup["warmup_s"] = time.perf_counter() - t0

        run.phase = "loop"
        loop_start = time.perf_counter()
        setup_s = loop_start - T_START - sum(gen) + _median(gen)
        deadline = loop_start + args.seconds
        n, min_cycles = 0, (3 if args.trace else 1) if build else W.INGEST_CYCLES
        while (n < min_cycles and (n == 0 or time.perf_counter() - T_START < CAP_S)
               or time.perf_counter() < deadline):
            trace = bool(args.trace) and n % 2 == 1
            run.cycle = n
            if build:
                W.build_cycle(run, spec, n, trace, rounds=W.READ_ROUNDS)
            elif not W.ingest_cycle(run, spec, trace):
                break
            n += 1
        loop_wall = time.perf_counter() - loop_start

        run.phase, run.cycle = "verify", -1
        probe = W.probes(run, spec) if args.trace else {}
        if not build:
            W.ingest_verify(run, spec)
    finally:
        _stop_spark(spark)

    metrics, report = _end_to_end(run, loop_wall, setup_s)
    if args.trace:
        metrics = _per_layer(run, setup, probe)
    attempted = len(run.ops)
    failed = sum(1 for o in run.ops if not o.ok)
    units = _units("per_layer" if args.trace else "end_to_end")
    report.update(
        workload=args.workload, seed=args.seed, trace=args.trace,
        error_rate=failed / attempted, attempted=attempted, failed=failed,
        errors=run.errors[:5], setup=setup,
        warmup_ops=[(o.kind, round(o.wall, 3)) for o in run.ops
                    if o.phase == "warmup"], inputs=spec["record"], **run.record,
        host={"nproc": nproc, "cores": cores, "load_1m_before": load_before[0],
              "load_1m_after": os.getloadavg()[0],
              "steal_share": _steal_share(ticks_before, _cpu_ticks()),
              "cpu_calib_kips": _cpu_calib_kips()},
    )
    print(json.dumps(report, default=float))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": u}
                    for k, u in units.items()},
    }))
    return 0


def _units(section: str) -> dict:
    """Metric name -> unit, as BENCHMARK.json lists them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[section]}


if __name__ == "__main__":
    sys.exit(main())
