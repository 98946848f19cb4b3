"""Per-round benchmark: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": ..., "points_per_sec": ...}

The engine's north metric (rolled-up points/sec across all retention
tiers) is computed from a synthetic tokenized-sequence table (datagen,
SPARK_GRAFT_BENCH_DOCS docs x 256 tokens) pushed through the 3-tier avg
+ 2-tier mode pyramids with a noop sink, and reported in the extra
keys; the per-query seconds cover the driver-contract headliners at the
given sf directory.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "q_avg_rollup_t2",
    "q_avg_rollup_t5",
    "q_avg_float_t2",
    "q_avg_sparse_t1",
    "q_mode_rollup_t1",
    "q_mode8_rollup_t1",
    "q_max_rollup_t1",
    "q_continuous_agg",
    "q_gapfill_zero",
    "q_asof_join",
    "q_gorilla_roundtrip",
    "q_gorilla_decode",
    "q_dedup_exact",
    "q_token_count",
    "q_quality_score",
    "q_lang_id",
    "q_minhash_signature",
    "q_simhash",
    "q_ngram_jaccard",
    "q_ann_topk",
    "q_multimodal_meta",
    "q_pack_tokens",
    "q_tfidf_terms",
    "q_time_weighted_avg",
    "q_m4_decimate",
    "q_counter_rate",
    # r04e/f analytics additions
    "q_acf_lags",
    "q_interarrival",
    "q_markov_transitions",
    "q_pagerank",
    "q_dup_spans",
    "q_rfm_segments",
    # r05 additions (NOTES.md explains the total-wall delta vs r04)
    "q_alert_episodes",
    "q_slo_ribbon",
    "q_heavy_hitters_mg",
    "q_journey_paths",
]


def _force(df) -> int:
    """Fully execute a DataFrame without collecting it to the driver."""
    return df.write.format("noop").mode("overwrite").save() or 0


def _fault_in_mbps(mb: int = 64, samples: int = 3) -> float:
    """First-touch page-fault throughput: the sandbox VM health probe.

    Healthy first-touch is >1 GB/s; lazily-backed guest memory has been
    observed at 6-120 MB/s (host re-faults every fresh page), which
    depresses every fresh JVM/Arrow allocation and inflates every
    timing 2-3x.

    Every sample MUST touch FRESH pages: freeing between samples lets
    the next allocation reuse just-released (already host-backed)
    pages and read GB/s on a sick host — exactly how a sick window
    slipped past this gate once (BENCH/NOTES.md r04f).  So all
    allocations stay alive until the end, and the verdict is the
    MEDIAN fresh-touch rate (min would over-trigger on one slow
    sample, max would hide sustained sickness)."""
    import numpy as np

    rates, hold = [], []
    for _ in range(samples):
        t0 = time.time()
        a = np.ones(mb * 1024 * 1024 // 8)
        dt = time.time() - t0
        hold.append(a)  # keep alive: next sample faults fresh pages
        rates.append(mb / dt)
    del hold
    rates.sort()
    return round(rates[len(rates) // 2], 1)


def _thp_fault_worker(nbytes: int, q) -> None:
    """Child process: madvise(MADV_HUGEPAGE) a fresh mmap and touch
    every 4K offset (the kernel faults 2 MB at a time); report MB/s."""
    import ctypes
    import ctypes.util
    import mmap

    libc = ctypes.CDLL(ctypes.util.find_library("c"), use_errno=True)
    m = mmap.mmap(-1, nbytes)
    addr = ctypes.addressof(ctypes.c_char.from_buffer(m))
    libc.madvise(ctypes.c_void_p(addr), ctypes.c_size_t(nbytes), 14)
    t0 = time.time()
    for off in range(0, nbytes, 4096):
        m[off] = 1
    q.put(nbytes / (1 << 20) / (time.time() - t0))


def _fault_in_thp_mbps(mb_per_proc: int = 128, nproc: int = 4,
                       rounds: int = 2) -> float:
    """Aggregate madvise-THP first-touch throughput (MB/s), the fault
    path the engine's allocators actually ride (session.py THP
    hardening: JVM -XX:+UseTransparentHugePages, glibc hugetlb=1,
    jemalloc thp:always).

    Measured r05g: this VM's host services 4 KB faults at 5-130 MB/s
    for hours while 2 MB faults in the SAME minutes run 0.2-3.5 GB/s —
    so the 4K probe alone (``_fault_in_mbps``) is no longer predictive
    of workload health.  Parallel (nproc=4) because the 32-core
    workload faults concurrently and the host's fault path scales with
    parallelism (BENCH/NOTES.md r05g table).

    Conservative: returns the MIN aggregate over ``rounds`` — round 2
    may recycle round 1's just-freed (already host-backed) pages and
    read fast on a sick host (the r04f blind spot), so the fresh first
    round bounds the verdict from below."""
    import multiprocessing as mp

    aggs = []
    for _ in range(rounds):
        q = mp.Queue()
        ps = [
            mp.Process(target=_thp_fault_worker,
                       args=(mb_per_proc << 20, q))
            for _ in range(nproc)
        ]
        t0 = time.time()
        for p in ps:
            p.start()
        for p in ps:
            p.join()
        aggs.append(nproc * mb_per_proc / (time.time() - t0))
    return round(min(aggs), 1)


def _cpu_calib_kips(seconds: float = 1.0, samples: int = 2) -> float:
    """Single-core CPU speed calibration: iterations/sec (in thousands)
    of a fixed cache-resident elementwise numpy loop.  The sandbox VM's
    per-core speed drifts 20-40% across sessions WITHOUT tripping the
    load or fault-in gates (host CPU sharing) — same engine, same plan,
    uniformly inflated wall times.  Recording this one number with
    every bench lets rounds be compared speed-normalized instead of
    misread as code regressions.  Pure numpy elementwise — no BLAS, so
    no thread-oversubscription lies (see CLAUDE.md)."""
    import numpy as np

    a = np.ones(65536, dtype=np.float64)
    best = 0.0
    for _ in range(samples):
        n = 0
        t0 = time.perf_counter()
        while time.perf_counter() - t0 < seconds:
            b = a * 1.0000001 + 0.5
            b.sum()
            n += 1
        best = max(best, n / seconds / 1000.0)
    return round(best, 1)


def _load_1m() -> float:
    return os.getloadavg()[0]


# Refuse-to-record thresholds (BENCH_r03 lesson: a polluted VM recorded
# an official 2.5x "regression" that was pure machine state).  The load
# bar is CLAUDE.md's own "load >1.5 means wait or kill"; the probe bar
# is the healthy first-touch floor.  Env-overridable so the round
# driver can relax them deliberately, never silently.
HEALTH_MAX_LOAD = float(os.environ.get("SPARK_GRAFT_MAX_LOAD", "1.5"))
HEALTH_MIN_MBPS = float(os.environ.get("SPARK_GRAFT_MIN_MBPS", "1000"))
HEALTH_RETRIES = int(os.environ.get("SPARK_GRAFT_HEALTH_RETRIES", "6"))
HEALTH_SLEEP_S = float(os.environ.get("SPARK_GRAFT_HEALTH_SLEEP", "60"))


def is_healthy(load_1m: float, mbps: float,
               max_load: float = HEALTH_MAX_LOAD,
               min_mbps: float = HEALTH_MIN_MBPS,
               thp_mbps: float | None = None) -> bool:
    """Healthy = load under the bar AND at least one fault path (4K or
    madvise-THP) at full speed.  The THP path is the one the engine's
    allocators use (session.py hardening), so a window where only 4K
    faults are sick is a valid measurement window — both probes are
    still recorded in the artifact for transparency."""
    fault_ok = mbps >= min_mbps or (
        thp_mbps is not None and thp_mbps >= min_mbps
    )
    return load_1m <= max_load and fault_ok


def check_health(
    max_load: float = HEALTH_MAX_LOAD,
    min_mbps: float = HEALTH_MIN_MBPS,
    retries: int = HEALTH_RETRIES,
    sleep_s: float = HEALTH_SLEEP_S,
    probe=_fault_in_mbps,
    load_fn=_load_1m,
    sleep_fn=time.sleep,
    thp_probe=_fault_in_thp_mbps,
) -> tuple[bool, dict]:
    """Gate a measurement on VM health, with bounded retries.

    Samples (1-min load average, 4K fault-in probe, THP fault-in
    probe); a window passes when load is under the bar and EITHER
    fault path is at speed (``is_healthy``).  On failure sleeps and
    retries up to ``retries`` times (bounded: at most
    ``retries * sleep_s`` seconds of waiting).  Returns
    ``(healthy, record)`` where ``record`` carries every sample taken,
    so the emitted JSON shows the full health history, not just the
    final verdict.  Injectable probes/load/sleep for unit tests."""
    history: list[dict] = []
    healthy = False
    for attempt in range(retries + 1):
        load1, mbps = load_fn(), probe()
        # only pay for the (heavier) THP probe when the cheap 4K probe
        # alone would fail the window
        thp = None
        if load1 <= max_load and mbps < min_mbps:
            thp = thp_probe()
        entry = {"load_1m": round(load1, 2), "fault_in_mbps": round(mbps, 1)}
        if thp is not None:
            entry["thp_fault_in_mbps"] = round(thp, 1)
        history.append(entry)
        if is_healthy(load1, mbps, max_load, min_mbps, thp_mbps=thp):
            healthy = True
            break
        if attempt < retries:
            sleep_fn(sleep_s)
    return healthy, {
        "attempts": len(history),
        "history": history,
        "max_load": max_load,
        "min_mbps": min_mbps,
    }


POST_RETRIES = int(os.environ.get("SPARK_GRAFT_POST_RETRIES", "2"))
POST_SLEEP_S = float(os.environ.get("SPARK_GRAFT_POST_SLEEP", "20"))


def post_probe(
    min_mbps: float = HEALTH_MIN_MBPS,
    retries: int = POST_RETRIES,
    sleep_s: float = POST_SLEEP_S,
    probe=_fault_in_mbps,
    thp_probe=_fault_in_thp_mbps,
    sleep_fn=time.sleep,
) -> tuple[float, float | None, list[dict]]:
    """Re-probe fault-in speed AFTER the measurements, with the same
    bounded-retry shape as the pre-run gate.

    The instant the headline loop ends, the live JVM still holds its
    ~6 GB heap and the host is reclaiming the bench's Arrow/parquet
    churn; a single sample taken right then reads 40-440 MB/s on a
    machine that probes 4+ GB/s twenty seconds later with 123 GB free
    (r05k: two otherwise-healthy runs flagged postrun_probe_sick by
    exactly this transient).  A REAL sick window — r04's lasted hours
    at 5-14 MB/s across 7 spaced pre-gate attempts — stays sick
    across this small retry budget, so retrying cannot launder
    genuine mid-run pollution; every sample lands in the artifact.
    Returns (post_mbps, post_thp, history) — the FINAL attempt's
    values plus the full history."""
    history: list[dict] = []
    mbps, thp = 0.0, None
    for attempt in range(retries + 1):
        mbps = probe()
        # same economy as check_health: THP probe only when 4K fails
        thp = thp_probe() if mbps < min_mbps else None
        entry = {"fault_in_mbps": round(mbps, 1)}
        if thp is not None:
            entry["thp_fault_in_mbps"] = round(thp, 1)
        history.append(entry)
        if mbps >= min_mbps or (thp is not None and thp >= min_mbps):
            break
        if attempt < retries:
            sleep_fn(sleep_s)
    return mbps, thp, history


def invalid_reasons(pre_healthy: bool, post_mbps: float,
                    min_mbps: float = HEALTH_MIN_MBPS,
                    post_thp_mbps: float | None = None) -> list[str]:
    """Why a recorded run must carry ``"invalid": true`` (empty = valid).

    Pre-run: load or probes never reached the bar within the retry
    budget.  Post-run: the probes re-run AFTER the measurements are
    BOTH sick (4K and THP), i.e. pollution arrived mid-run (load after
    the run is self-inflated by our own executors, so only the fault
    probes are re-checked)."""
    reasons = []
    if not pre_healthy:
        reasons.append("prerun_unhealthy")
    post_ok = post_mbps >= min_mbps or (
        post_thp_mbps is not None and post_thp_mbps >= min_mbps
    )
    if not post_ok:
        reasons.append("postrun_probe_sick")
    return reasons


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    pre_healthy, health = check_health()
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    bench_docs = int(os.environ.get("SPARK_GRAFT_BENCH_DOCS", "100000"))

    from pyspark.sql import functions as F

    from tinybrain_spark import driver_contract as dc
    from tinybrain_spark.datagen import generate
    from tinybrain_spark.session import get_spark
    from tinybrain_spark.udfs import pool_tiers_map_in_arrow

    spark = get_spark("tinybrain-bench", master=f"local[{cpus}]",
                      shuffle_partitions=max(32, cpus))

    # warm the python workers + JIT once so the first timed query is not
    # charged ~5s of cold-start (steady-state is what 100TB jobs see)
    _force(dc.queries()["q_max_rollup_t1"](spark, sf_dir))

    timings: dict[str, float] = {}
    qs = dc.queries()
    for name in HEADLINE:
        best = float("inf")
        for _ in range(2):  # best-of-2: sandbox timing variance is 2-3x.
            # Rebuild per run — pyspark 4.1 memoizes per DataFrame object.
            t0 = time.time()
            _force(qs[name](spark, sf_dir))
            best = min(best, time.time() - t0)
        timings[name] = round(best, 3)

    # --- engine pyramid throughput (north metric) -----------------------
    # materialize the synthetic table as parquet (the engine's real input
    # shape — a cached boxed-row table is not how a 100TB table arrives)
    import tempfile

    seq_path = os.path.join(tempfile.mkdtemp(prefix="tb_bench_"), "seq")
    generate(spark, n_docs=bench_docs, n_tok=256, seed=42,
             num_partitions=cpus * 2).write.mode("overwrite").parquet(seq_path)
    seq = spark.read.parquet(seq_path)
    n_rows = seq.count()

    # run-length label table: the mode kernel's actual workload
    # (segmentation-style); exercises the instant-majority fast path
    cat_path = os.path.join(tempfile.mkdtemp(prefix="tb_bench_"), "cat")
    generate(spark, n_docs=bench_docs, n_tok=256, seed=42, categorical=True,
             num_partitions=cpus * 2).write.mode("overwrite").parquet(cat_path)
    cat = spark.read.parquet(cat_path)

    def pyramid_points(kind: str, tiers: int, sparse: bool = False,
                       table=None) -> tuple[float, int]:
        best, points = float("inf"), 0
        for _ in range(4):  # best-of-4: this is the north metric, and
            # the sandbox VM's noise windows inflate single runs 2-3x;
            # each repeat costs <1s.
            # Rebuild the DataFrame each run — pyspark 4.1 memoizes
            # execution per DataFrame object.  mapInArrow fast path:
            # the pyramid is Arrow-boundary-bound, not kernel-bound
            # (bit-equality with the scalar arrow_udf path pinned by
            # test_rollup_e2e); uniform n_tok batches stay zero-copy.
            pool = pool_tiers_map_in_arrow(kind, window=4,
                                           num_tiers=tiers, sparse=sparse)
            src = seq if table is None else table
            df = pool(src).select(F.explode("tiers").alias("t")).select(
                F.sum(F.size("t")).alias("points")
            )
            t0 = time.time()
            points = int(df.collect()[0]["points"])
            best = min(best, time.time() - t0)
        return best, points

    t_avg, p_avg = pyramid_points("avg", 3)
    t_mode, p_mode = pyramid_points("mode", 2)
    t_cat, p_cat = pyramid_points("mode", 2, table=cat)
    timings["pyramid_avg_t3"] = round(t_avg, 3)
    timings["pyramid_mode_t2"] = round(t_mode, 3)
    timings["pyramid_mode_cat_t2"] = round(t_cat, 3)
    points_per_sec = (p_avg + p_mode + p_cat) / (t_avg + t_mode + t_cat)

    total = round(sum(timings.values()), 3)
    post_mbps, post_thp, post_history = post_probe()
    reasons = invalid_reasons(pre_healthy, post_mbps,
                              post_thp_mbps=post_thp)
    out = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf_dir,
        "cpus": cpus,
        "bench_docs": n_rows,
        "rolled_up_points": p_avg + p_mode + p_cat,
        "points_per_sec": round(points_per_sec, 1),
        "vm_health": health,
        "vm_fault_in_mbps_post": post_mbps,
        "vm_thp_fault_in_mbps_post": post_thp,
        "vm_post_history": post_history,
        # single-core speed calibration: divide wall times by
        # (this_round_kips / other_round_kips) before comparing rounds
        "vm_cpu_calib_kips": _cpu_calib_kips(),
    }
    if reasons:
        # refuse to present a polluted measurement as a graded number
        out["invalid"] = True
        out["invalid_reasons"] = reasons
    print(json.dumps(out))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
