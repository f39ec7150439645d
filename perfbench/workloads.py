"""The two workloads. Each one prepares its input from the seed, warms up,
times passes of its unit of work for the requested seconds, then checks
the output of a pass against the program's oracles.

The program is driven only through its public functions: ``get_spark``,
``read_pages``, ``skew_repartition``,
``extract_pages``, ``run_extraction_job``, ``metrics_of``,
``SnapshotTable``, the kernel functions, ``queries()`` and
``clear_caches``.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

from pyspark.sql import functions as F

from . import check, inputs
from .layers import ANCHORS, KERNEL_KINDS, PER_LAYER
from .trace import Tracer

CRAWL_PAGES = 2000  # mixed-content pages, 12 families
ANCHOR_SF = 0.01
SETUP_REPEATS = 3
ORACLE_PROCS = 4
LAYER_REPEATS = 3
WARMUP_QUERY = "q1_pricing_summary"  # first Spark work of the JVM, before any timing


@dataclass
class Ctx:
    spark: object
    seed: int
    seconds: float
    trace: bool
    work: str
    partitions: int
    tracer: Tracer

    @property
    def sc(self):
        return self.spark.sparkContext


@dataclass
class Result:
    setup_s: float = 0.0  # input preparation + warm-up; run.py adds session start
    pass_walls: list = field(default_factory=list)  # untraced passes
    traced_walls: list = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    problems: list = field(default_factory=list)
    layers: dict = field(default_factory=lambda: {m[0]: 0 for m in PER_LAYER})
    record: dict = field(default_factory=dict)
    marks: list = field(default_factory=list)  # (phase, perf_counter at its end)

    def mark(self, phase: str) -> None:
        self.marks.append((phase, time.perf_counter()))


def _med(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def _timed(fn) -> float:
    t = time.perf_counter()
    fn()
    return time.perf_counter() - t


def _prepare(ctx: Ctx, res: Result, make) -> float:
    """Median wall of SETUP_REPEATS input generations from the seed; the
    last one's files stay. Spark first reads them in the warm-up."""
    with ctx.tracer.span("setup:input"):
        walls = [_timed(make) for _ in range(SETUP_REPEATS)]
    res.mark("input")
    return _med(walls)


def _pass_wall(one_pass) -> float:
    """Wall of one pass; a pass that times itself returns its own wall."""
    t = time.perf_counter()
    own = one_pass()
    return own if own is not None else time.perf_counter() - t


def _measure(
    ctx: Ctx, res: Result, one_pass, block=(False, True, True, False), min_passes=1
) -> None:
    """Run passes for ctx.seconds, and at least ``min_passes``, tracing off.
    Traced runs go through whole blocks of untraced (False) and traced
    (True) passes, by default in ABBA order so that a pass warmer than the
    one before it does not read as tracing overhead; the run's first pass,
    often the coldest, is left out of that comparison."""
    deadline = time.perf_counter() + ctx.seconds
    i = 0
    while True:
        traced = ctx.trace and block[i % len(block)]
        ctx.tracer.enabled = traced
        if traced:
            with ctx.tracer.span("pass"):
                res.traced_walls.append(_pass_wall(one_pass))
        else:
            res.pass_walls.append(_pass_wall(one_pass))
        i += 1
        whole = i % len(block) == 0 if ctx.trace else i >= min_passes
        if whole and time.perf_counter() >= deadline:
            break
    ctx.tracer.enabled = ctx.trace
    res.mark("measure")
    if ctx.trace:
        res.layers["trace.overhead_s"] = _med(res.traced_walls) - _med(res.pass_walls[1:])


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


# ---------------------------------------------------------------------------
# extraction workload
# ---------------------------------------------------------------------------


def _identity_batches(batches_acc, rows_acc):
    def fn(batches):
        for pdf in batches:
            batches_acc.add(1)
            rows_acc.add(len(pdf))
            yield pdf

    return fn


def _layer_walls(ctx: Ctx, pages, input_dir: str, res: Result) -> None:
    """L1 scan, L2 + salted exchange, L3 + an identity mapInPandas over the
    same repartitioned frame, L4 the full extract_pages; each layer's time
    is its difference to the one below (medians of LAYER_REPEATS)."""
    from ai_ocr_spark.pipeline import extract_pages, skew_repartition

    sc = ctx.sc
    n_batches, n_rows = sc.accumulator(0), sc.accumulator(0)
    cols = pages.select("url", "warc_ts", "html")
    l3 = skew_repartition(cols, ctx.partitions).mapInPandas(
        _identity_batches(n_batches, n_rows), schema=cols.schema
    )
    steps = {
        "scan": pages,
        "exchange": skew_repartition(cols, ctx.partitions),
        "boundary": l3,
        "extract": extract_pages(pages, run_id="layers", num_partitions=ctx.partitions),
    }
    walls = {k: [] for k in steps}
    last = {}
    for _ in range(LAYER_REPEATS):
        for name, df in steps.items():
            with ctx.tracer.span(f"layer:{name}") as sp:
                _noop(df)
            walls[name].append(sp.seconds)
            last[name] = sp.stages
    med = {k: _med(v) for k, v in walls.items()}
    L = res.layers
    L["scan.s"] = med["scan"]
    L["scan.bytes"] = _dir_size(input_dir)[1]
    L["exchange.s"] = med["exchange"] - med["scan"]
    L["exchange.shuffle_bytes"] = last["exchange"].shuffle_write_bytes
    L["boundary.s"] = med["boundary"] - med["exchange"]
    L["boundary.batches"] = n_batches.value / LAYER_REPEATS
    L["boundary.rows_per_batch"] = n_rows.value / max(n_batches.value, 1)
    L["extract.s"] = med["extract"] - med["boundary"]
    L["extract.executor_run_s"] = last["extract"].executor_run_ms / 1000.0
    L["extract.task_ms_max_med"] = last["extract"].task_ms_max_med
    # rows per partition, empty partitions included: max over mean reads 1
    # when the rows spread evenly and grows as they pile into fewer partitions
    spread = skew_repartition(pages, ctx.partitions)
    by_pid = dict(spread.groupBy(F.spark_partition_id()).count().collect())
    counts = [by_pid.get(p, 0) for p in range(spread.rdd.getNumPartitions())]
    L["exchange.part_rows_max_mean"] = max(counts) / statistics.fmean(counts)
    res.record["layer_walls_s"] = med


def _kernel_layers(payloads, res: Result) -> None:
    """extract_one's steps timed one by one, in process, without Spark."""
    from ai_ocr_spark.kernels.fields import detect_doc_type, extract_fields, language_of
    from ai_ocr_spark.kernels.oracle import analyze_payload_full
    from ai_ocr_spark.kernels.validate import confidence_score, validate_fields

    parse: dict[str, list[float]] = {}
    fields_s, validate_s = [], []
    for url, payload, _ in payloads:
        payload = bytes(payload) if payload is not None else b""
        t0 = time.perf_counter()
        kind, main_text, tables, _sections, _links = analyze_payload_full(payload, base_url=url)
        t1 = time.perf_counter()
        doc_type = detect_doc_type(main_text) if main_text else "generic"
        language_of(main_text, url)
        fields = extract_fields(main_text, doc_type) if main_text else []
        t2 = time.perf_counter()
        vres = validate_fields(fields, doc_type, tables=tables)
        confidence_score(fields, vres, main_text)
        t3 = time.perf_counter()
        parse.setdefault(kind, []).append(t1 - t0)
        fields_s.append(t2 - t1)
        validate_s.append(t3 - t2)
    for kind in KERNEL_KINDS:
        if parse.get(kind):
            res.layers[f"kernel.parse_ms.{kind}"] = 1000 * statistics.fmean(parse[kind])
    res.layers["kernel.fields_ms"] = 1000 * statistics.fmean(fields_s)
    res.layers["kernel.validate_ms"] = 1000 * statistics.fmean(validate_s)
    res.record["kernel_docs_by_kind"] = {k: len(v) for k, v in sorted(parse.items())}


def _census(payloads, oracle: check.OracleRun, family_of) -> dict:
    """docs, bytes and in-process extract_one seconds per input family."""
    out: dict[str, dict] = {}
    total_s = sum(oracle.seconds.values()) or 1.0
    for url, payload, _ in payloads:
        c = out.setdefault(family_of(url), {"docs": 0, "bytes": 0, "kernel_s": 0.0})
        c["docs"] += 1
        c["bytes"] += len(payload or b"")
        c["kernel_s"] += oracle.seconds[url]
    for c in out.values():
        c["kernel_share"] = c["kernel_s"] / total_s
    return dict(sorted(out.items()))


def _check_extraction(ctx: Ctx, res: Result, rows, payloads) -> None:
    oracle = check.run_oracle(payloads, ORACLE_PROCS)
    verdict = check.compare_extractions(rows, oracle, len(payloads))
    res.attempted += len(payloads)
    res.failed += verdict.error_rows
    res.problems += verdict.mismatched[:20]
    res.layers["kernel.cpu_s"] = oracle.cpu_s
    res.record["census"] = _census(payloads, oracle, _crawl_family(ctx.seed))
    if ctx.trace:
        _kernel_layers(payloads, res)


def _payloads(pages) -> list:
    t = pages.select("url", "html", "warc_ts").toArrow()
    return list(zip(*(t.column(c).to_pylist() for c in ("url", "html", "warc_ts"))))


def _crawl_family(seed: int):
    from ai_ocr_spark.datagen import family_of

    return lambda url: family_of(int(url.rsplit("/", 1)[1]), seed)


def _crawl_input(ctx: Ctx, res: Result) -> str:
    """The mixed-content pages table, generated from the seed."""
    from ai_ocr_spark.datagen import write_pages_parquet

    path = os.path.join(ctx.work, "crawl", "pages.parquet")
    os.makedirs(os.path.dirname(path))
    res.setup_s = _prepare(ctx, res, lambda: write_pages_parquet(path, CRAWL_PAGES, ctx.seed))
    return path


def _dir_size(path: str) -> tuple[int, int]:
    n = size = 0
    for base, _dirs, files in os.walk(path):
        for f in files:
            n += 1
            size += os.path.getsize(os.path.join(base, f))
    return n, size


def _sink_layers(ctx: Ctx, res: Result, path: str) -> None:
    """The write path of run_extraction_job, one public call at a time."""
    from ai_ocr_spark.catalog import SnapshotTable
    from ai_ocr_spark.pipeline import extract_pages, metrics_of
    from ai_ocr_spark.sources.pages import read_pages

    root = os.path.join(ctx.work, "jobs", "layers")
    table = SnapshotTable(os.path.join(root, "extractions"))
    metrics = SnapshotTable(os.path.join(root, "metrics"))
    pages = read_pages(ctx.spark, path)
    extractions = extract_pages(pages, run_id="layers", num_partitions=ctx.partitions)
    with ctx.tracer.span("SnapshotTable.append") as sp:
        entry = table.append(extractions, run_id="layers")
    res.layers["sink.append_s"] = sp.seconds - res.record["layer_walls_s"]["extract"]
    res.layers["sink.files"], res.layers["sink.bytes_written"] = _dir_size(
        os.path.join(table.root, entry["dir"])
    )
    with ctx.tracer.span("SnapshotTable.pending") as sp:
        left = table.pending(ctx.spark, pages).count()
    res.layers["resume.pending_s"] = sp.seconds
    if left:
        res.problems.append(f"pending() left {left} urls after a full append")
    snap = ctx.spark.read.parquet(os.path.join(table.root, entry["dir"]))
    with ctx.tracer.span("metrics_of->append") as sp:
        metrics.append(metrics_of(snap, run_id="layers"), run_id="layers")
    res.layers["metrics.reconcile_s"] = sp.seconds


def job_resume(ctx: Ctx) -> Result:
    from ai_ocr_spark.catalog import SnapshotTable
    from ai_ocr_spark.pipeline import run_extraction_job
    from ai_ocr_spark.sources.pages import read_pages

    res = Result()
    path = _crawl_input(ctx, res)
    jobs = os.path.join(ctx.work, "jobs")
    full, noop = [], []

    def job_and_resume(name: str) -> tuple[str, float, float]:
        """One job into a fresh out-root, then the same job again."""
        root = os.path.join(jobs, name)
        rid = f"bench-{name}"
        with ctx.tracer.span("run_extraction_job", group=rid):
            t0 = time.perf_counter()
            entry = run_extraction_job(ctx.spark, path, root, run_id=rid)
            t1 = time.perf_counter()
        with ctx.tracer.span("run_extraction_job:resume", group=rid + "-r"):
            again = run_extraction_job(ctx.spark, path, root, run_id=rid + "-r")
            t2 = time.perf_counter()
        if not entry or again:
            res.problems.append(f"{name}: first run committed {bool(entry)}, resume not a no-op")
        if ctx.tracer.enabled:
            res.layers["job.spark_jobs"] = len(ctx.sc.statusTracker().getJobIdsForGroup(rid))
        return root, t1 - t0, t2 - t1

    def timed_pass() -> float:
        root, f, n = job_and_resume(f"p{len(full) + 1}")
        full.append(f)
        noop.append(n)
        shutil.rmtree(root, ignore_errors=True)
        return f + n

    # two untimed jobs: after only one, the first timed pass still ran
    # ~15 % slower than the next. The first one's output is the one the
    # check reads.
    t0 = time.perf_counter()
    checked_root = job_and_resume("warm0")[0]
    shutil.rmtree(job_and_resume("warm1")[0], ignore_errors=True)
    res.setup_s += time.perf_counter() - t0
    res.mark("warm-up")
    pages = read_pages(ctx.spark, path)
    # passes still get faster after the warm-up, so every run times the
    # same first two, however slow the host is at the time
    _measure(ctx, res, timed_pass, min_passes=2)
    res.layers["job.full_s"] = _med(full)
    res.layers["resume.noop_s"] = _med(noop)
    if ctx.trace:
        _layer_walls(ctx, pages, os.path.dirname(path), res)
        _sink_layers(ctx, res, path)
        res.mark("layers")
    rows = SnapshotTable(os.path.join(checked_root, "extractions")).read(ctx.spark).toArrow()
    _check_extraction(ctx, res, rows.to_pylist(), _payloads(pages))
    metrics = SnapshotTable(os.path.join(checked_root, "metrics")).read(ctx.spark)
    counted = metrics.agg(F.sum("n_docs")).first()[0]
    if counted != CRAWL_PAGES:
        res.problems.append(f"metrics snapshot counts {counted} docs, {CRAWL_PAGES} in")
    res.mark("check")
    res.record["docs"] = CRAWL_PAGES
    res.record["docs_per_s"] = CRAWL_PAGES / _med(full)
    res.record["resume_noop_s"] = _med(noop)
    return res


# ---------------------------------------------------------------------------
# operator anchor set
# ---------------------------------------------------------------------------


def _memo(sc) -> tuple[int, int]:
    infos = sc._jsc.sc().getRDDStorageInfo()
    cached = [i for i in infos if i.numCachedPartitions() > 0]
    return len(cached), sum(i.memSize() + i.diskSize() for i in cached)


def operator_anchor(ctx: Ctx) -> Result:
    import __spark_entry__ as entry
    from ai_ocr_spark.operators.dedup import clear_caches
    from tools.check_oracle import canon_df

    res = Result()
    sf_dir = os.path.join(ctx.work, "anchor")
    queries = entry.queries()
    res.setup_s = _prepare(ctx, res, lambda: inputs.write_anchor_tables(sf_dir, ANCHOR_SF, ctx.seed))
    res.setup_s += _timed(lambda: queries[WARMUP_QUERY](ctx.spark, sf_dir).toPandas())
    res.mark("warm-up")
    walls = {q: {"cold": [], "warm": []} for q in ANCHORS}
    hashes: dict[str, dict] = {}
    raised: dict[str, str] = {}
    memo = [0, 0]  # cached RDDs and bytes the anchor queries leave, last pass

    def one_pass() -> float:
        """-> the summed query walls (hashing and cache bookkeeping left out)."""
        memo[:] = [0, 0]
        total = 0.0
        for q in ANCHORS:
            clear_caches(ctx.spark)
            before = _memo(ctx.sc)
            try:
                for phase in ("cold", "warm"):
                    with ctx.tracer.span(f"{q}:{phase}") as sp:
                        t0 = time.perf_counter()
                        pdf = queries[q](ctx.spark, sf_dir).toPandas()
                        walls[q][phase].append(time.perf_counter() - t0)
                    total += walls[q][phase][-1]
                    if phase not in hashes.setdefault(q, {}):
                        hashes[q][phase] = canon_df(pdf)
                    if sp is not None and phase == "warm":
                        res.layers[f"op.{q}.shuffle_bytes"] = (
                            sp.stages.shuffle_write_bytes + sp.stages.shuffle_read_bytes
                        )
                        res.layers[f"op.{q}.spill_bytes"] = sp.stages.spill_bytes
                        res.layers[f"op.{q}.tasks"] = sp.stages.tasks
            except Exception as e:  # a raising query is a failure; the pass goes on
                raised[q] = f"{type(e).__name__}: {str(e)[:200]}"
            res.attempted += 1
            after = _memo(ctx.sc)
            memo[0] += after[0] - before[0]
            memo[1] += after[1] - before[1]
        return total

    # one untraced and one traced pass: an ABBA block would not fit in a
    # run, and the second pass's cold phase finds the JVM warmer, so the
    # overhead compares the warm phases only
    _measure(ctx, res, one_pass, block=(False, True))
    clear_caches(ctx.spark)
    if ctx.trace:
        res.layers["trace.overhead_s"] = sum(
            w["warm"][1] - w["warm"][0] for w in walls.values() if len(w["warm"]) > 1
        )
    res.failed = res.attempted - sum(len(w["warm"]) for w in walls.values())
    res.problems += [f"{q} raised {e}" for q, e in raised.items()]
    oracle = check.duckdb_hashes(sf_dir, [q for q in ANCHORS if q in hashes])
    res.mark("check")
    for q, h in hashes.items():
        if h.get("cold") != h.get("warm"):
            res.problems.append(f"{q}: cold result differs from warm")
        if oracle[q] != h.get("warm"):
            res.problems.append(f"{q}: differs from its DuckDB twin")
    for q in ANCHORS:
        res.layers[f"op.{q}.cold_s"] = _med(walls[q]["cold"])
        res.layers[f"op.{q}.warm_s"] = _med(walls[q]["warm"])
    res.layers["anchor.cold_s"] = sum(res.layers[f"op.{q}.cold_s"] for q in ANCHORS)
    res.layers["anchor.warm_s"] = sum(res.layers[f"op.{q}.warm_s"] for q in ANCHORS)
    res.layers["memo.entries"], res.layers["memo.cached_bytes"] = memo
    res.record["anchor_walls_s"] = walls
    res.record["anchor_cold_s"] = res.layers["anchor.cold_s"]
    res.record["anchor_warm_s"] = res.layers["anchor.warm_s"]
    res.record["anchor_sf"] = ANCHOR_SF
    return res


WORKLOADS = {
    "job_resume": job_resume,
    "operator_anchor": operator_anchor,
}
