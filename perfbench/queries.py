"""``operator_queries``: headline operator queries, checked against their
DuckDB oracles.

Inputs are the seeded tables of :mod:`querydata`, written once per
(``--seed`` modulo ``TABLE_VARIANTS``, sf) into the cache. Each query is
timed through ``collect()``, which produces the rows the check hashes: a
``count()`` would let Spark prune the projected columns, so the timed
plan would not be the checked one, and checking would need a second
execution.
"""

from __future__ import annotations

import json
import os
import time

import querydata
from common import cache_dir, log, median

# Six of bench.py's 17 headline queries, in its order: every operator
# module (relational, dedup, similarity, textstats, multimodal) and
# dedup_ngram_jaccard, the slowest headline query at the re-anchor. The
# other eleven add time a run of the benchmark does not have;
# g2_pagerank's operator runs in every crawl round.
HEADLINE = (
    "t3_per_host_budget", "j2_admission_antijoin", "dedup_ngram_jaccard",
    "ann_ivf_assign", "text_lang_id", "mm_decode_features",
)
SF = 0.01
# The tables' seed is ``--seed`` modulo this: each new seed's tables and
# oracle digests cost a process of their own, and a few variants bound
# what a series of seeds costs.
TABLE_VARIANTS = 4


def scale(params: dict) -> float:
    """The table scale: ``sf`` is the one parameter a run may override
    (the self-tests run a tiny one)."""
    unknown = set(params) - {"sf"}
    if unknown:
        raise ValueError(f"operator_queries has no parameter "
                         f"{sorted(unknown)}")
    return params.get("sf", SF)


def _check_oracles():
    import check_oracles  # tools/check_oracles.py, on sys.path

    return check_oracles


def _oracle_digests(data_dir: str, names) -> dict:
    """(rows, sorted columns, value hash) of each oracle, via DuckDB."""
    import duckdb

    import __spark_entry__ as entry

    value_hash = _check_oracles().value_hash
    sql = entry.oracle_sql()
    con = duckdb.connect()
    try:
        for t in querydata.TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{data_dir}/{t}.parquet')")
        out = {}
        for name in names:
            res = con.execute(sql[name])
            cols = [d[0] for d in res.description]
            rows = res.fetchall()
            out[name] = [len(rows), sorted(cols), value_hash(cols, rows)]
        return out
    finally:
        con.close()


def cache_key(seed: int, sf: float) -> str:
    return f"seed{seed % TABLE_VARIANTS}_sf{sf}"


def stage_inputs(ctx, sf: float) -> tuple:
    """Cached (tables dir, oracle digests) for this seed and scale."""
    d = cache_dir("operator_queries", cache_key(ctx.seed, sf))
    manifest = os.path.join(d, "oracles.json")
    if not os.path.exists(manifest):
        with ctx.cache_build("operator_queries"):
            _build(d, manifest, ctx.seed % TABLE_VARIANTS, sf)
    with open(manifest) as f:
        m = json.load(f)
    ctx.layers["corpus.generate_s"] = m["generate_s"]
    ctx.layers["golden.model_s"] = m["oracle_s"]
    return os.path.join(d, "tables"), m["oracles"]


def _build(d: str, manifest: str, seed: int, sf: float) -> None:
    t0 = time.perf_counter()
    querydata.write_tables(os.path.join(d, "tables"), seed, sf)
    t1 = time.perf_counter()
    oracles = _oracle_digests(os.path.join(d, "tables"), HEADLINE)
    t2 = time.perf_counter()
    tmp = manifest + ".tmp"
    with open(tmp, "w") as f:
        json.dump({"oracles": oracles, "generate_s": t1 - t0,
                   "oracle_s": t2 - t1}, f)
    os.replace(tmp, manifest)


def check(name: str, cols, rows, want) -> str | None:
    """None when the rows match the oracle digest, else the problem."""
    value_hash = _check_oracles().value_hash
    got = [len(rows), sorted(cols), value_hash(cols, rows)]
    if got == list(want):
        return None
    return f"{name}: got {got}, oracle {want}"


def prepare(ctx) -> None:
    stage_inputs(ctx, scale(ctx.params))


def run(ctx) -> None:
    """One pass over the headline queries; more passes while the run's
    seconds last. ``ctx`` is the driver's run context."""
    import __spark_entry__ as entry

    with ctx.setup_step("staging"):
        data_dir, oracles = stage_inputs(ctx, scale(ctx.params))
    ctx.end_setup()
    qs = entry.queries()
    walls: dict[str, list[float]] = {n: [] for n in HEADLINE}
    suites: list[float] = []
    t_start = time.perf_counter()
    while True:
        suites.append(0.0)
        for name in HEADLINE:
            ctx.attempted += 1
            with ctx.op(f"query.{name}", kind="query") as op:
                try:
                    t0 = time.perf_counter()
                    df = qs[name](ctx.spark, data_dir)
                    cols = df.columns
                    rows = [tuple(r) for r in df.collect()]
                    wall = time.perf_counter() - t0
                except Exception as e:  # a failed query is a failed op
                    ctx.fail(f"{name}: {type(e).__name__}: {e}")
                    continue
            walls[name].append(wall)
            suites[-1] += wall
            op.wall = wall
            problem = check(name, cols, rows, oracles[name])
            if problem:
                ctx.fail(problem)
        # drop the suite's scoped caches between passes, as bench.py does
        from x227f_spark.operators.qcache import release_caches
        release_caches()
        if time.perf_counter() - t_start >= ctx.seconds:
            break
    log(f"operator_queries: {len(suites)} pass(es), suite "
        f"{[round(s, 2) for s in suites]} s")
    ctx.metrics["work_s"] = sum(suites)
    ctx.layers["query_suite_s"] = median(suites)
    for name, ws in walls.items():
        ctx.layers[f"query.{name}_s"] = median(ws)
    if ctx.tracer is not None:
        _layer_metrics(ctx)


def _layer_metrics(ctx) -> None:
    """Per query: jobs, executor CPU and shuffle bytes (median over
    passes), read from the status store by job-id window."""
    import spans as tr

    per = {n: [tr.totals(op.jobs) for op in ctx.ops
               if op.name == f"query.{n}"] for n in HEADLINE}
    log("query                     wall_s  jobs  cpu_s  shuffle_bytes")
    for n in HEADLINE:
        t = per[n]
        jobs = median(x["jobs"] for x in t)
        cpu = median(x["executor_cpu_s"] for x in t)
        shuffle = median(x["shuffle_write_bytes"] for x in t)
        ctx.layers[f"query.{n}.jobs"] = jobs
        ctx.layers[f"query.{n}.executor_cpu_s"] = cpu
        ctx.layers[f"query.{n}.shuffle_bytes"] = shuffle
        log(f"{n:25s} {ctx.layers[f'query.{n}_s']:6.2f} {jobs:5.0f} "
            f"{cpu:6.2f} {shuffle:14.0f}")
    gaps = sum(op.gaps for op in ctx.ops)
    if gaps:
        log(f"job id gaps (evicted jobs): {gaps}")
