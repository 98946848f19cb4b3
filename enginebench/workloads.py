"""The benchmark's workloads, their output checks and the isolated
per-layer probes.

Every op runs in its own Spark job group; after the op the Spark status
tracker is read for its jobs, tasks and failed tasks.  Every DataFrame
is rebuilt inside the op (pyspark memoizes execution per DataFrame
object).
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass, field

import numpy as np
import pyarrow.parquet as pq

from . import inputs
from .trace import Tracer

WINDOW, TIERS = 4, 3
# build_uniform: a round of reads of a built pyramid reads tiers 1-3 and
# one residual step past tier 3; a timed build is followed by
# READ_ROUNDS rounds, the warm-up build by WARM_READ_ROUNDS (read latency
# keeps falling over the first few dozen reads of a new JVM)
READ_RESOLUTIONS = (4, 16, 64, 256)
READ_ROUNDS = 8
WARM_READ_ROUNDS = 4
# ingest_serve shape: R reads after every fold + retention, and at least
# INGEST_CYCLES cycles a run
READS_PER_CYCLE = 6
INGEST_CYCLES = 4
RETAIN_BUCKETS = 60  # < the seed's 64 buckets: every enforcement drops rows
INGEST_DOCS = 512
INGEST_BATCHES = 6


@dataclass
class Op:
    kind: str  # build | read | ingest | retention | verify
    phase: str  # warmup | loop | verify
    cycle: int  # loop cycle, -1 outside the loop
    wall: float
    ok: bool
    traced: bool
    jobs: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    info: dict = field(default_factory=dict)


class CheckFailed(AssertionError):
    pass


def check(cond: bool, what: str) -> None:
    if not cond:
        raise CheckFailed(what)


class Run:
    """State of one benchmark run: session, work dir, op log, tracer."""

    def __init__(self, spark, work: str, seed: int):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.tracer = Tracer()
        self.ops: list[Op] = []
        self.phase = "warmup"
        self.cycle = -1
        self.errors: list[str] = []
        self.record: dict = {}
        self.rng = np.random.default_rng([seed, 99])

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def op(self, kind: str, fn, trace: bool = False) -> Op:
        """Run ``fn(info)`` as one op and return its record.  The op's
        wall covers ``fn`` only; a callable ``fn`` returns is the op's
        output check, run after the clock stops.  An exception (engine
        error or failed check) marks the op failed."""
        sc = self.spark.sparkContext
        gid = f"op-{len(self.ops)}"
        sc.setJobGroup(gid, kind)
        info: dict = {}
        if trace:
            self.tracer.op = len(self.ops)
            self.tracer.install()
        t0 = time.perf_counter()
        wall, ok = None, True
        try:
            verify = fn(info)
            wall = time.perf_counter() - t0
            if trace:
                self.tracer.uninstall()
            if verify is not None:
                verify()
        except Exception as exc:  # the loop keeps running; counted as failed
            ok = False
            self.errors.append(f"{kind}: {type(exc).__name__}: {exc}"[:500])
        if wall is None:
            wall = time.perf_counter() - t0
        if trace:
            self.tracer.uninstall()
            self.tracer.op = None
        jobs, tasks, failed = _job_counts(sc, gid)
        rec = Op(kind, self.phase, self.cycle, wall, ok, trace, jobs, tasks,
                 failed, info)
        self.ops.append(rec)
        return rec


def _job_counts(sc, group: str) -> tuple[int, int, int]:
    st = sc.statusTracker()
    ids = st.getJobIdsForGroup(group)
    tasks = failed = 0
    for j in ids:
        info = st.getJobInfo(j)
        for s in info.stageIds if info else ():
            si = st.getStageInfo(s)
            if si is not None:
                tasks += si.numTasks
                failed += si.numFailedTasks
    return len(ids), tasks, failed


def parquet_stats(path: str) -> tuple[int, int]:
    """(files, bytes) of the parquet data files under ``path``."""
    files = size = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    return files, size


def _reference(kind: str, tokens: list[np.ndarray], tier: int) -> list[np.ndarray]:
    """Single-node kernels.pool output at ``tier`` for each row, pooled
    as one dense batch per length (the engine must match row by row)."""
    from tinybrain_spark import kernels as K

    out: list = [None] * len(tokens)
    lengths = np.array([len(t) for t in tokens])
    for n in np.unique(lengths):
        idx = np.nonzero(lengths == n)[0]
        mat = np.stack([tokens[i] for i in idx])
        res = K.pool(kind, mat, window=WINDOW, num_tiers=tier)[tier - 1]
        for j, i in enumerate(idx):
            out[i] = res[j]
    return out


def _check_served(rows, docs: inputs.Docs, kind: str, tier: int,
                  source: str, lo: int, hi: int) -> None:
    tb = docs.time_bucket
    want = np.nonzero((docs.source == source) & (tb >= lo) & (tb <= hi))[0]
    got = {r["doc_id"]: r["tokens"] for r in rows}
    check(set(got) == {docs.doc_id[i] for i in want},
          f"served doc set differs ({source}, {lo}-{hi}, tier {tier})")
    ref = _reference(kind, [docs.tokens[i] for i in want], tier)
    for i, r in zip(want, ref):
        check(np.array_equal(np.asarray(got[docs.doc_id[i]], np.int32), r),
              f"tier {tier} row {docs.doc_id[i]} != kernels.pool")


def _pick_filter(run: Run, docs: inputs.Docs) -> tuple[str, int, int]:
    """A seeded (source, bucket range) that holds at least one row:
    anchor on a random row, so sources come Zipf-weighted."""
    i = int(run.rng.integers(docs.rows))
    b = int(docs.time_bucket[i])
    return str(docs.source[i]), max(0, b - 3), b + 4


def _read(run: Run, engine, cfg, docs, resolution: int, info: dict):
    """One serving read: read_series routed by resolution, filtered on
    one source and a bucket range, collected; rows checked against
    kernels.pool on the same input rows."""
    from tinybrain_spark import serving

    source, lo, hi = _pick_filter(run, docs)
    tr = run.tracer
    df = serving.read_series(
        engine, cfg, None, resolution, sources=[source], bucket_range=(lo, hi)
    )
    with tr.span("serving.exec"):
        rows = df.collect()
    tier = int(round(np.log(resolution) / np.log(WINDOW)))
    info.update(read="series", resolution=resolution, residual=tier > TIERS)
    return lambda: _check_served(rows, docs, cfg.kernel, tier, source, lo, hi)


# -- build workload ------------------------------------------------------


def build_setup_inputs(work: str, seed: int) -> dict:
    """The build_uniform input: 2048 fixed-length rows (2M tokens)."""
    docs = inputs.uniform_docs(seed, 1, 2048, "u")
    path = docs.write(os.path.join(work, "input"), files=8)
    warm = inputs.uniform_docs(seed, 4, 64, "w")
    warm_path = warm.write(os.path.join(work, "warm-input"), files=8)
    record = {"why": "fixed-length rows: every Arrow batch takes the "
              "zero-copy uniform path and the int64 accumulator",
              **docs.summary()}
    return {"docs": docs, "path": path, "kernel": "avg", "record": record,
            "warm": {"docs": warm, "path": warm_path, "kernel": "avg"}}


def build_cycle(run: Run, spec: dict, n: int, trace: bool, rounds: int) -> None:
    """One fresh run_pyramid, then ``rounds`` rounds of served reads of
    it, each one routed to every tier and one a residual step past the
    last tier."""
    from tinybrain_spark.rollup import RollupConfig, RollupEngine

    docs, kind = spec["docs"], spec["kernel"]
    base = run.path(f"pyramid-{n}")
    cfg = RollupConfig(kernel=kind, window=WINDOW, num_tiers=TIERS,
                       run_kind="bench")
    engine = RollupEngine(run.spark, base)
    lengths = docs.lengths

    def build(info):
        stats = engine.run_pyramid(run.spark.read.parquet(spec["path"]), cfg)
        return lambda: _check_build(base, cfg, docs, lengths, stats, info)

    rec = run.op("build", build, trace)
    if rec.ok:
        for res in READ_RESOLUTIONS * rounds:
            run.op("read", lambda info, res=res: _read(
                run, engine, cfg, docs, res, info), trace)
    shutil.rmtree(base, ignore_errors=True)


def _check_build(base, cfg, docs, lengths, stats, info) -> None:
    points = 0
    for t in range(1, TIERS + 1):
        want = int(np.sum(-(-lengths // WINDOW ** t)))
        check(stats[t]["points_out"] == want,
              f"tier {t} points_out {stats[t]['points_out']} != {want}")
        check(stats[t]["rows_out"] == docs.rows, f"tier {t} rows_out")
        points += want
    lin = pq.read_table(os.path.join(base, "lineage")).to_pydict()
    keys = list(zip(lin["tier"], lin["source"]))
    sources = set(docs.source.tolist())
    check(len(keys) == len(set(keys)), "duplicate lineage rows")
    check(set(keys) == {(t, s) for t in range(1, TIERS + 1) for s in sources},
          "lineage rows != one per (tier, source)")
    tier_files, tier_bytes = 0, 0
    for t in range(1, TIERS + 1):
        f, b = parquet_stats(os.path.join(base, cfg.name(t)))
        tier_files, tier_bytes = tier_files + f, tier_bytes + b
    ck_files = ck_bytes = 0
    for table in ("lineage", "metrics"):
        f, b = parquet_stats(os.path.join(base, table))
        ck_files, ck_bytes = ck_files + f, ck_bytes + b
    info.update(points=points, docs=docs.rows, files=tier_files + ck_files,
                data_bytes=tier_bytes, data_points=points,
                checkpoint_bytes=ck_bytes,
                stored_bytes=tier_bytes + ck_bytes)


# -- ingest_serve workload -------------------------------------------------


class Aggregate:
    """In-process model of the continuous aggregate, built from the
    docs folded so far (minus retention) — the reference the served
    aggregate, gap-filled reads and decoded blobs are checked against."""

    def __init__(self):
        self.state: dict[tuple[str, int], list[int]] = {}
        self.cutoff = 0

    def fold(self, docs: inputs.Docs) -> None:
        for s, b, t in zip(docs.source, docs.time_bucket, docs.tokens):
            k = (str(s), int(b))
            v = self.state.get(k)
            tsum, tmin, tmax = int(t.sum(dtype=np.int64)), int(t.min()), int(t.max())
            if v is None:
                self.state[k] = [1, len(t), tsum, tmin, tmax]
            else:
                v[0] += 1
                v[1] += len(t)
                v[2] += tsum
                v[3] = min(v[3], tmin)
                v[4] = max(v[4], tmax)

    def retain(self, cutoff: int) -> None:
        self.cutoff = max(self.cutoff, cutoff)
        self.state = {k: v for k, v in self.state.items() if k[1] >= cutoff}

    def series(self, source: str) -> dict[int, int]:
        return {b: v[2] for (s, b), v in self.state.items() if s == source}


def ingest_setup_inputs(work: str, seed: int) -> dict:
    """Seed docs (same shape as build_uniform, 1024 rows over the 64
    buckets) plus the ingest batches: batch i holds INGEST_DOCS docs all
    in time bucket BUCKETS + i, so each fold appends one new bucket per
    source."""
    docs = inputs.uniform_docs(seed, 3, 1024, "p")
    path = docs.write(os.path.join(work, "input"), files=8)
    batches = []
    for i in range(INGEST_BATCHES):
        b = inputs.uniform_docs(seed, 100 + i, INGEST_DOCS, f"b{i:03d}_",
                                buckets=inputs.BUCKETS + i)
        batches.append((b, b.write(os.path.join(work, f"batch-{i:03d}"), files=2)))
    record = {"why": "the only workload that writes beside reads: small "
              "aggregate appends while the aggregate and its blobs are read",
              "seed_docs": docs.summary(),
              "batch": {**batches[0][0].summary(), "count": INGEST_BATCHES}}
    return {"docs": docs, "path": path, "batches": batches, "record": record}


def ingest_prepare(run: Run, spec: dict) -> None:
    """Untimed state: the aggregate seeded from the seed docs (the
    warm-up fold + encode), then one op of every other kind."""
    from tinybrain_spark.catalog import Catalog

    spec.update(model=Aggregate(), folded=[], blob_model={}, cycle=0,
                catalog=Catalog(run.spark, run.path("agg")))
    run.op("ingest", lambda info: _ingest(run, spec, spec["docs"],
                                          spec["path"], info))
    run.op("retention", lambda info: _retention(run, spec, info))
    run.op("read", lambda info: _gapfill_read(run, spec, info))
    run.op("read", lambda info: _decode_read(run, spec, info))


def _ingest(run, spec, docs, path, info):
    """One ingest op: fold the batch into the continuous aggregate, then
    Gorilla-encode the aggregate into the blob table."""
    from tinybrain_spark import aggregates, compress

    cat = spec["catalog"]
    aggregates.update_continuous_aggregate(cat, "agg", run.spark.read.parquet(path))
    with run.tracer.span("compress.encode"):
        cat.write(compress.encode_series_table(cat.read("agg")), "blobs",
                  mode="overwrite")

    def verify():
        model = spec["model"]
        model.fold(docs)
        spec["folded"].append(path)
        spec["blob_model"] = {s: model.series(s) for s, _ in model.state}
        tab = pq.read_table(cat.path("blobs"), columns=["n_points", "blob"])
        n = sum(tab.column("n_points").to_pylist())
        check(n == len(model.state), f"encoded points {n} != {len(model.state)}")
        agg_files, agg_bytes = parquet_stats(cat.path("agg"))
        blob_files, blob_bytes = parquet_stats(cat.path("blobs"))
        info.update(docs=docs.rows, points=int(docs.lengths.sum()),
                    state_files=agg_files, blob_points=n,
                    blob_bytes=sum(len(b) for b in tab.column("blob").to_pylist()),
                    files=agg_files + blob_files, data_bytes=agg_bytes,
                    data_points=len(model.state),
                    stored_bytes=agg_bytes + blob_bytes)

    return verify


def _retention(run, spec, info):
    from tinybrain_spark import retention

    res = retention.enforce_retention(
        spec["catalog"], "agg", 0,
        retention.RetentionPolicy(max_age={0: RETAIN_BUCKETS}),
    )

    def verify():
        info.update(rows_dropped=int(res["rows_dropped"]))
        if res["cutoff"] is not None:
            before = len(spec["model"].state)
            spec["model"].retain(res["cutoff"])
            check(res["rows_dropped"] == before - len(spec["model"].state),
                  "retention rows_dropped != model")

    return verify


def _gapfill_read(run, spec, info):
    """Dashboard read: one source's token_sum over a bucket window that
    runs 4 buckets past the newest, zero-filled."""
    from pyspark.sql import functions as F
    from tinybrain_spark import gapfill

    model = spec["model"]
    source = str(spec["docs"].source[int(run.rng.integers(spec["docs"].rows))])
    newest = max(b for _, b in model.state)
    lo, hi = newest - 15, newest + 4
    with run.tracer.span("gapfill.fill"):
        agg = spec["catalog"].read("agg").where(F.col("source") == source)
        rows = gapfill.gap_fill(agg, ["source"], "time_bucket", ["token_sum"],
                                policy="zero", bucket_min=lo,
                                bucket_max=hi).collect()
    info.update(read="gapfill")

    def verify():
        series = model.series(source)
        got = {r["time_bucket"]: r["token_sum"] for r in rows}
        check(len(got) == len(rows), "duplicate gap-filled buckets")
        check(got == {b: series.get(b, 0) for b in range(lo, hi + 1)},
              f"gap-filled series of {source} differs")

    return verify


def _decode_read(run, spec, info):
    from pyspark.sql import functions as F
    from tinybrain_spark import compress

    sources = sorted(spec["blob_model"])
    source = sources[int(run.rng.integers(len(sources)))]
    with run.tracer.span("compress.decode"):
        blobs = spec["catalog"].read("blobs").where(F.col("source") == source)
        rows = compress.decode_series_table(blobs).collect()
    info.update(read="decode")

    def verify():
        got = {r["time_bucket"]: r["token_sum"] for r in rows}
        check(len(got) == len(rows), "duplicate decoded buckets")
        check(got == spec["blob_model"][source], f"decoded {source} != encoded")

    return verify


def ingest_cycle(run: Run, spec: dict, trace: bool) -> bool:
    """fold + encode, retention, then READS_PER_CYCLE seeded reads.
    Returns False when it cannot go on."""
    i = spec["cycle"]
    if i >= len(spec["batches"]):
        return False
    spec["cycle"] += 1
    docs, path = spec["batches"][i]
    if not run.op("ingest", lambda info: _ingest(run, spec, docs, path, info),
                  trace).ok:
        return False
    run.op("retention", lambda info: _retention(run, spec, info), trace)
    for _ in range(READS_PER_CYCLE):
        if run.rng.random() < 0.5:
            run.op("read", lambda info: _gapfill_read(run, spec, info), trace)
        else:
            run.op("read", lambda info: _decode_read(run, spec, info), trace)
    return True


def ingest_verify(run: Run, spec: dict) -> None:
    """The stored aggregate equals aggregate_batch recomputed over the
    retained docs, and the in-process model."""
    from pyspark.sql import functions as F
    from tinybrain_spark import aggregates

    cols = ["source", "time_bucket", "n_docs", "n_points", "token_sum",
            "token_min", "token_max"]

    def verify(info):
        stored = {tuple(r) for r in
                  spec["catalog"].read("agg").select(*cols).collect()}
        docs = run.spark.read.parquet(*spec["folded"]).where(
            F.col("time_bucket") >= spec["model"].cutoff)
        fresh = {tuple(r) for r in
                 aggregates.aggregate_batch(docs).select(*cols).collect()}
        model = {(s, b, *v) for (s, b), v in spec["model"].state.items()}
        info.update(groups=len(stored))

        def compare():
            check(stored == fresh, "aggregate != aggregate_batch over retained docs")
            check(stored == model, "aggregate != in-process model")

        return compare

    run.op("verify", verify)


# -- isolated probes (traced run only) ----------------------------------


def _timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def _kernel_rate(kind: str, mats: list[np.ndarray]) -> float:
    """Tokens per second of in-process kernels.pool over dense batches,
    repeated for at least 0.2 s."""
    from tinybrain_spark import kernels as K

    tokens = sum(m.size for m in mats)
    n, t0 = 0, time.perf_counter()
    while True:
        for m in mats:
            K.pool(kind, m, window=WINDOW, num_tiers=TIERS)
        n += 1
        el = time.perf_counter() - t0
        if el >= 0.2:
            return n * tokens / el


def probes(run: Run, spec: dict) -> dict:
    """Isolated per-layer probes (traced run only): in-process kernels
    on a sample, and single Spark steps over the workload input (and a
    ragged run-length sample, for the per-length-group fallback path)
    written to the noop sink."""
    from pyspark.sql import functions as F
    from tinybrain_spark.partitioning import cluster_for_write
    from tinybrain_spark.rollup import TIER_KEY_COLS
    from tinybrain_spark.udfs import avg_step_map_in_arrow, pool_tier_map_in_arrow

    spark = run.spark
    docs = spec["docs"]
    ragged = inputs.ragged_docs(run.seed, 7, 1 << 20, "q")
    rpath = ragged.write(run.path("ragged-probe"), files=8)
    run.record["ragged_probe_input"] = {
        **ragged.summary(), "length_histogram": inputs.length_histogram(ragged)}

    uni = [np.stack(docs.tokens[:512])]  # both workloads' input is fixed-length
    lengths = ragged.lengths
    grouped = [np.stack([ragged.tokens[i] for i in np.nonzero(lengths == n)[0]])
               for n in np.unique(lengths)]
    out = {
        "kernels.avg_tokens_per_s": _kernel_rate("avg", uni),
        "kernels.mode_tokens_per_s": _kernel_rate("mode", grouped),
    }

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    def src():
        return spark.read.parquet(spec["path"]).select(*TIER_KEY_COLS, "tokens", "n_tok")

    out["udfs.arrow_floor_s"] = _timed(
        lambda: noop(src().mapInArrow(lambda it: it, src().schema)))
    step = avg_step_map_in_arrow(window=WINDOW, tier=1, guard_tiers=TIERS,
                                 key_cols=TIER_KEY_COLS)
    out["udfs.tier1_step_s"] = _timed(lambda: noop(step(src())))
    mode = pool_tier_map_in_arrow("mode", window=WINDOW, guard_tiers=TIERS,
                                  key_cols=TIER_KEY_COLS)
    out["udfs.ragged_tier1_step_s"] = _timed(
        lambda: noop(mode(spark.read.parquet(rpath))))
    out["partitioning.cluster_s"] = _timed(lambda: noop(cluster_for_write(src())))
    counts = [r[1] for r in cluster_for_write(src())
              .groupBy(F.spark_partition_id()).count().collect()]
    out["partitioning.skew"] = max(counts) / float(np.median(counts))
    return out
