"""Crawl workloads: engine rounds checked against the golden model.

``crawl_steady`` (in ``BENCHMARK.json``)
    Queue-capped rounds resumed from a cached snapshot whose seen set is
    past ``CrawlEngine.BLOOM_MIN_SEEN``, so every timed round runs the
    Bloom pre-prune, and the resumed engine pays the Bloom full rebuild.
    The corpus is the same for every ``--seed`` (``STEADY_CORPUS_SEED``):
    its cold cache costs about three minutes, and not every generated
    corpus ramps (with 36-44 buttons per page, corpus seed 1's round 2
    admits nothing).

``crawl_polite`` (manual: ``--workload crawl_polite``)
    A few hosts with a hundred-odd pages each. The seed page links 15
    pages on each of its 7 hosts, so from round 2 on the per-host
    politeness budget (15 URLs/host/round at the default 1 s delay) caps
    every round at 105 URLs. The seen set stays near a thousand, below the
    Bloom and PageRank-layout thresholds. The state dir after round 1 (the
    seed page alone) is cached per corpus variant, and a run resumes from
    it. The corpus seed is ``--seed`` modulo ``POLITE_VARIANTS``.

Correctness: the golden model runs the same corpus and config once, when
the cache is built, and its state after each round is kept as digests.
Every run compares ``trace_events()``, ``seen_set()``, ``page_spans()``
and the ``pages`` rows against them; the traced run also checks its
exported 88x31.json.
"""

from __future__ import annotations

import gc
import hashlib
import json
import os
import shutil
import time

from common import cache_dir, dir_bytes, log, median, work_dir

STAGES = ("rank", "sched", "fetch", "plan", "write")

# Each corpus's cold cache costs a golden-model run and the engine's ramp
# rounds, so few corpora bound what a series of seeds costs.
POLITE_VARIANTS = 3
STEADY_CORPUS_SEED = 0

POLITE = {
    "hosts": 7,
    "pages_per_host": 150,
    # one distinct button image per seed-page link: a page keeps only the
    # first of repeated image sources
    "buttons": 128,
    "buttons_per_page": [2, 4],
    # 7 x 15 seed-page buttons keep the seed's out-degree under the ~127
    # links past which a 0.15-score page no longer lifts its link targets
    # to the admission score
    "seed_links_per_host": 15,
    "ramp_cap": 10_000,
    "ramp_rounds": 1,
    "queue_cap": 10_000,
}

# 72k pages with 28-36 linked buttons each. Ramp rounds 1-3 run with a
# 2,500-URL queue cap: after them the golden model has 2,614 pages fetched
# and 53,624 URLs seen, past BLOOM_MIN_SEEN and below LAYOUT_MIN_NODES.
# Timed rounds run with a 100-URL cap and admit 101 URLs: at this scale a
# round's cost is mostly fixed, and a smaller round keeps a run short.
STEADY = {
    "hosts": 3000,
    "pages_per_host": 24,
    "buttons": 200,
    "fanout": 100,
    "buttons_per_page": [28, 36],
    "ramp_cap": 2500,
    "ramp_rounds": 3,
    "queue_cap": 100,
}
DEFAULTS = {"crawl_polite": POLITE, "crawl_steady": STEADY}
# golden digests are kept for this many timed rounds
MAX_ROUNDS = {"crawl_polite": 2, "crawl_steady": 1}


def params_of(workload: str, overrides: dict) -> dict:
    """The workload's corpus and cap sizes, with ``overrides`` (the
    self-tests' tiny corpora) applied."""
    p = dict(DEFAULTS[workload])
    unknown = set(overrides) - set(p)
    if unknown:
        raise ValueError(f"{workload} has no parameter {sorted(unknown)}")
    p.update(overrides)
    return p


def corpus_seed(workload: str, seed: int) -> int:
    if workload == "crawl_steady":
        return STEADY_CORPUS_SEED
    return seed % POLITE_VARIANTS


def cache_key(workload: str, seed: int, p: dict) -> str:
    blob = json.dumps([p, MAX_ROUNDS[workload]], sort_keys=True).encode()
    return (f"corpus{corpus_seed(workload, seed)}_"
            f"{hashlib.sha256(blob).hexdigest()[:12]}")


def engine_config(seed_url: str, queue_cap: int):
    from x227f_spark.constants import EngineConfig

    # the per-round fetch cap stays above the queue cap, so the queue cap
    # or the host budgets alone bound a round
    return EngineConfig(starting_point=seed_url, queue_cap=queue_cap,
                        fetch_cap=10 * queue_cap)


def make_corpus(workload: str, seed: int, p: dict):
    from x227f_spark.extract_logic import pack_img_attrs
    from x227f_spark.sources.corpus import generate

    if workload == "crawl_steady":
        return generate(n_hosts=p["hosts"], pages_per_host=p["pages_per_host"],
                        n_buttons=p["buttons"],
                        seed=corpus_seed(workload, seed),
                        edge_cases=False, seed_button_fanout=p["fanout"],
                        buttons_per_page=tuple(p["buttons_per_page"]))
    corpus = generate(n_hosts=p["hosts"], pages_per_host=p["pages_per_host"],
                      n_buttons=p["buttons"],
                      seed=corpus_seed(workload, seed), edge_cases=False,
                      buttons_per_page=tuple(p["buttons_per_page"]))
    # the seed page links pages 1..k of every host through 88x31 buttons
    doc = corpus.docs[corpus.seed_url]
    spans = list(doc.spans)
    buttons = sorted(corpus.images)
    k = p["seed_links_per_host"]
    for h in range(p["hosts"]):
        for j in range(1, k + 1):
            href = f"https://site{h}.example/page{j}.html"
            spans.append(("anchor", href, None, len(spans)))
            spans.append(("img", pack_img_attrs(f"site{h}", "", "88", "31"),
                          buttons[(h * k + j - 1) % len(buttons)],
                          len(spans)))
    doc.spans = spans
    return corpus


def host_budget_sum(cfg, p: dict) -> int:
    return sum(cfg.host_budget(f"site{h}.example") for h in range(p["hosts"]))


# ---------------------------------------------------------------------------
# digests of crawl state
# ---------------------------------------------------------------------------

def _sha(obj) -> str:
    blob = json.dumps(obj, sort_keys=True, default=str).encode()
    return hashlib.sha256(blob).hexdigest()


def _ts(dt) -> int:
    return int(dt.timestamp())


def state_digest(trace, seen: dict, spans: dict, pages: list) -> dict:
    """One digest per parity component; ``pages`` holds tuples of
    (page_id, url, failed, last_visited epoch, redirects_to,
    internal_links, buttons)."""
    return {"trace": _sha([list(t) for t in trace]),
            "seen": _sha(sorted(seen.items())),
            "spans": _sha({k: [list(s) for s in v]
                           for k, v in spans.items()}),
            "pages": _sha(sorted(pages)),
            "seen_size": len(seen)}


def model_digest(m) -> dict:
    trace = [(t.round, t.seq, t.page_id, t.host, t.action) for t in m.trace]
    pages = [(pid, pg.url, pg.failed, _ts(pg.last_visited), pg.redirects_to,
              list(pg.internal_links),
              [[b.source, b.hash, b.file_ext, b.target, b.alt, b.title]
               for b in pg.buttons])
             for pid, pg in m.pages.items()]
    return state_digest(trace, m.seen_set(), m.page_spans(), pages)


def engine_digest(eng) -> dict:
    from concurrent.futures import ThreadPoolExecutor

    # the four reads are independent Spark jobs: run them side by side
    with ThreadPoolExecutor(4) as pool:
        rows = pool.submit(lambda: eng.table("pages").collect())
        trace = pool.submit(eng.trace_events)
        seen = pool.submit(eng.seen_set)
        spans = pool.submit(eng.page_spans)
        pages = [(r["page_id"], r["url"], r["failed"],
                  _ts(r["last_visited"]), r["redirects_to"],
                  list(r["internal_links"] or []),
                  [[b["source"], b["hash"], b["file_ext"], b["target"],
                    b["alt"], b["title"]] for b in (r["buttons"] or [])])
                 for r in rows.result()]
        return state_digest(trace.result(), seen.result(), spans.result(),
                            pages)


def model_export_digest(m) -> str:
    from x227f_spark.plans.processed import process_pages_python

    blob = json.dumps(process_pages_python(m.pages)).encode()
    return hashlib.sha256(blob).hexdigest()


def file_digest(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for chunk in iter(lambda: f.read(1 << 20), b""):
            h.update(chunk)
    return h.hexdigest()


def compare(got: dict, want: dict) -> list[str]:
    """Names of the parity components whose digests differ."""
    return [k for k in ("trace", "seen", "spans", "pages")
            if got.get(k) != want.get(k)]


def check_outputs(ctx, round_names, got: dict, export_sha: str | None,
                  want: dict) -> None:
    """Count each timed round as failed when the final state differs from
    the golden model's, and the export (when one ran, ``export_sha`` not
    None) when its json differs."""
    bad = compare(got, want)
    if bad:
        for name in round_names:
            ctx.fail(f"{name}: state differs from the golden model in {bad}")
    if export_sha is not None and export_sha != want["export"]:
        ctx.fail("export: 88x31.json differs from the golden twin")


# ---------------------------------------------------------------------------
# cached corpus, snapshot and golden digests
# ---------------------------------------------------------------------------

def build_cache(ctx, workload: str, p: dict, d: str) -> None:
    """Corpus parquet, the engine's state dir after the ramp rounds, and
    golden digests after the ramp and after each timed round.

    For crawl_steady the parquet corpus keeps every page's HTTP row, but
    only the pages the golden model read keep their spans: the engine
    reads no other page, and the empty ones keep its corpus cache small."""
    from x227f_spark.model import GoldenModel
    from x227f_spark.plans.rounds import CrawlEngine
    from x227f_spark.sources.corpus import Doc, write_parquet

    info = {"params": p}
    t0 = time.perf_counter()
    corpus = make_corpus(workload, ctx.seed, p)
    info.update(seed_url=corpus.seed_url, generate_s=time.perf_counter() - t0)
    ramp_cfg = engine_config(corpus.seed_url, p["ramp_cap"])
    cfg = engine_config(corpus.seed_url, p["queue_cap"])
    info["host_budget_sum"] = host_budget_sum(cfg, p)

    t1 = time.perf_counter()
    read = set()
    http_get = corpus.http_get
    corpus.http_get = lambda url: (read.add(url), http_get(url))[1]
    model = GoldenModel(corpus, ramp_cfg)
    model.bootstrap()
    for _ in range(p["ramp_rounds"]):
        model.run_round()
    info["snapshot"] = model_digest(model)
    model.cfg = cfg
    info["rounds"] = {}
    for k in range(1, MAX_ROUNDS[workload] + 1):
        admitted = model.run_round()["admitted"]
        info["rounds"][str(k)] = {**model_digest(model),
                                  "admitted": admitted,
                                  "export": model_export_digest(model)}
    info["model_s"] = time.perf_counter() - t1
    del model
    log(f"golden model: {info['model_s']:.1f} s; seen "
        f"{info['snapshot']['seen_size']} after the ramp; "
        f"{len(read)} pages read")

    t2 = time.perf_counter()
    if workload == "crawl_steady":
        for url, doc in corpus.docs.items():
            if url not in read:
                corpus.docs[url] = Doc(status=doc.status,
                                       content_type=doc.content_type,
                                       redirect_to=doc.redirect_to,
                                       body_len=doc.body_len)
    corpus_dir = os.path.join(d, "corpus")
    shutil.rmtree(corpus_dir, ignore_errors=True)
    write_parquet(corpus, corpus_dir)
    info["write_parquet_s"] = time.perf_counter() - t2
    del corpus
    gc.collect()

    snap = os.path.join(d, "snapshot")
    tmp = snap + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    eng = CrawlEngine(ctx.spark, corpus_dir, tmp, config=ramp_cfg)
    for _ in range(p["ramp_rounds"]):
        m = eng.run_round()
        log(f"  ramp round {m['round']}: admitted {m['admitted']}")
    bad = compare(engine_digest(eng), info["snapshot"])
    del eng
    ctx.spark.catalog.clearCache()
    if bad:
        raise RuntimeError(f"engine ramp differs from the golden model: {bad}")
    shutil.rmtree(snap, ignore_errors=True)
    os.replace(tmp, snap)
    with open(os.path.join(d, "manifest.json.tmp"), "w") as f:
        json.dump(info, f)
    os.replace(os.path.join(d, "manifest.json.tmp"),
               os.path.join(d, "manifest.json"))


def load_cache(ctx, workload: str, p: dict) -> tuple[str, dict]:
    d = cache_dir(workload, cache_key(workload, ctx.seed, p))
    path = os.path.join(d, "manifest.json")
    if not os.path.exists(path):
        with ctx.cache_build(workload):
            build_cache(ctx, workload, p, d)
    with open(path) as f:
        return d, json.load(f)


# ---------------------------------------------------------------------------
# the run
# ---------------------------------------------------------------------------

def _wrap_layers(tracer) -> None:
    from x227f_spark.operators import bloom
    from x227f_spark.plans import processed, rounds
    from x227f_spark.sources import catalog

    tracer.wrap(rounds, "pagerank_iterations", "pagerank.call")
    tracer.wrap(rounds, "anti_join_new", "bloom.anti_join_new")
    tracer.wrap(bloom.IncrementalBloom, "update", "bloom.update")
    tracer.wrap(rounds, "global_row_number", "ranked.global_row_number")
    tracer.wrap(catalog.StateStore, "commit", "catalog.commit")
    tracer.wrap(catalog.StateStore, "read", "catalog.read")
    tracer.wrap(processed, "build_processed", "processed.build")


def _version_dirs(state: str) -> int:
    tables = os.path.join(state, "tables")
    return sum(1 for t in os.listdir(tables)
               for v in os.listdir(os.path.join(tables, t))
               if v.startswith("v"))


def prepare(ctx) -> None:
    load_cache(ctx, ctx.workload, params_of(ctx.workload, ctx.params))


def run(ctx) -> None:
    from x227f_spark.plans.rounds import CrawlEngine

    p = params_of(ctx.workload, ctx.params)
    d, man = load_cache(ctx, ctx.workload, p)
    ctx.layers["corpus.generate_s"] = man["generate_s"]
    ctx.layers["corpus.write_parquet_s"] = man["write_parquet_s"]
    ctx.layers["golden.model_s"] = man["model_s"]
    if ctx.tracer is not None:
        _wrap_layers(ctx.tracer)

    state = os.path.join(work_dir("state"), f"run-{os.getpid()}")
    export = os.path.join(work_dir("state"), f"export-{os.getpid()}")
    try:
        with ctx.setup_step("snapshot_copy"):
            shutil.rmtree(state, ignore_errors=True)
            shutil.copytree(os.path.join(d, "snapshot"), state)
        cfg = engine_config(man["seed_url"], p["queue_cap"])
        t_first = time.perf_counter()
        with ctx.setup_step("engine"), ctx.span("rounds.engine_init"):
            eng = CrawlEngine(ctx.spark, os.path.join(d, "corpus"), state,
                              config=cfg)
        ctx.end_setup()
        ctx.layers["rounds.engine_init_s"] = ctx.setup_parts["engine"]
        _run_timed(ctx, p, man, eng, state, export, t_first)
    finally:
        shutil.rmtree(state, ignore_errors=True)
        shutil.rmtree(export, ignore_errors=True)


def _guard(ctx, p: dict, man: dict, n: int, m: dict) -> None:
    """The property that defines the workload, checked on timed round n."""
    from x227f_spark.plans.rounds import CrawlEngine

    want = man["rounds"][str(n)]
    if m["admitted"] != want["admitted"]:
        ctx.fail(f"round{n}: admitted {m['admitted']}, golden model "
                 f"{want['admitted']}")
    if ctx.workload == "crawl_steady":
        if m["admitted"] != p["queue_cap"] + 1:
            ctx.fail(f"guard: round{n} admitted {m['admitted']}, not the "
                     f"queue cap {p['queue_cap'] + 1}")
        seen = man["snapshot"]["seen_size"]
        if n == 1 and seen < CrawlEngine.BLOOM_MIN_SEEN:
            ctx.fail(f"guard: seen set {seen} at the first timed round < "
                     f"BLOOM_MIN_SEEN {CrawlEngine.BLOOM_MIN_SEEN}")
    else:  # crawl_polite
        if m["admitted"] > man["host_budget_sum"]:
            ctx.fail(f"guard: round{n} admitted {m['admitted']} > the sum "
                     f"of host budgets {man['host_budget_sum']}")
        if want["seen_size"] >= CrawlEngine.BLOOM_MIN_SEEN:
            ctx.fail(f"guard: seen set {want['seen_size']} reached "
                     f"BLOOM_MIN_SEEN")


def _run_timed(ctx, p, man, eng, state, export, t_first) -> None:
    from x227f_spark.plans.processed import save_processed

    rounds = []
    t_start = time.perf_counter()
    while len(rounds) < MAX_ROUNDS[ctx.workload]:
        before = dir_bytes(state) if ctx.tracer is not None else 0
        ctx.attempted += 1
        with ctx.op(f"round{len(rounds) + 1}", "round") as op:
            t0 = time.perf_counter()
            m = eng.run_round()
            op.wall = time.perf_counter() - t0
        if not rounds:
            ctx.layers["resume_s"] = time.perf_counter() - t_first
        op.info = {"admitted": m["admitted"], "fetched": m["fetched"],
                   "failed": m["failed"],
                   "timing": {s: m["timing"].get(s, 0.0) for s in STAGES}}
        if ctx.tracer is not None:
            op.info["bytes_written"] = dir_bytes(state) - before
        rounds.append(op)
        _guard(ctx, p, man, len(rounds), m)
        if time.perf_counter() - t_start >= ctx.seconds:
            break

    # only the traced run exports: at crawl_steady's scale the export costs
    # more than a round
    ex = None
    export_sha = None
    if ctx.tracer is not None:
        ctx.attempted += 1
        with ctx.op("export", "export") as ex:
            t0 = time.perf_counter()
            save_processed(ctx.spark, eng.table("pages"), export,
                           return_data=False)
            ex.wall = time.perf_counter() - t0
        export_sha = file_digest(os.path.join(export, "88x31.json"))

    t0 = time.perf_counter()
    check_outputs(ctx, [op.name for op in rounds], engine_digest(eng),
                  export_sha, man["rounds"][str(len(rounds))])
    log(f"checked against the golden model in "
        f"{time.perf_counter() - t0:.1f} s")

    walls = [op.wall for op in rounds]
    urls = sum(op.info["fetched"] + op.info["failed"] for op in rounds)
    ctx.metrics["work_s"] = sum(walls)
    ctx.layers.update({"urls_per_s": urls / sum(walls),
                       "round_s_p50": median(walls)})
    log(f"{ctx.workload}: rounds {[round(w, 2) for w in walls]} s, admitted "
        f"{[op.info['admitted'] for op in rounds]}, first round committed "
        f"{ctx.layers['resume_s']:.2f} s after CrawlEngine(...)")
    if ctx.tracer is not None:
        _layer_metrics(ctx, rounds, ex, state, export)


def _layer_metrics(ctx, rounds, ex, state, export) -> None:
    import spans as tr

    L = ctx.layers
    for s in STAGES:
        L[f"rounds.{s}_s"] = median(op.info["timing"][s] for op in rounds)
    L["rounds.admitted"] = median(op.info["admitted"] for op in rounds)
    L["rounds.fetched_per_admitted"] = median(
        op.info["fetched"] / max(op.info["admitted"], 1) for op in rounds)
    per_round = [tr.totals(op.jobs) for op in rounds]
    for k in ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s",
              "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"):
        L[f"spark.{k}_per_round"] = median(t[k] for t in per_round)
    buckets = [tr.bucket(op.jobs, op.t0_ms,
                         [(s, op.info["timing"][s]) for s in STAGES])
               for op in rounds]
    for s in STAGES:
        L[f"spark.jobs.{s}"] = median(len(b[s]) for b in buckets)
        L[f"spark.executor_cpu_s.{s}"] = median(
            sum(j.cpu_s for j in b[s]) for b in buckets)

    def per_round_spans(name, reduce=sum):
        return median(reduce(ctx.span_self_s(name, op.name))
                      for op in rounds)

    L["pagerank.call_s"] = per_round_spans("pagerank.call")
    L["bloom.update_call_s"] = per_round_spans("bloom.update")
    L["bloom.anti_join_new_call_s"] = per_round_spans("bloom.anti_join_new")
    L["ranked.global_row_number_call_s"] = per_round_spans(
        "ranked.global_row_number")
    L["ranked.global_row_number_calls"] = per_round_spans(
        "ranked.global_row_number", len)
    L["catalog.commit_call_s"] = per_round_spans("catalog.commit")
    L["catalog.read_call_s"] = per_round_spans("catalog.read")
    L["catalog.read_calls"] = per_round_spans("catalog.read", len)
    L["catalog.bytes_written_per_round"] = median(
        op.info["bytes_written"] for op in rounds)
    L["catalog.state_bytes"] = dir_bytes(state)
    L["catalog.version_dirs"] = _version_dirs(state)
    L["export_s"] = ex.wall
    L["processed.build_call_s"] = sum(ctx.span_self_s("processed.build",
                                                      ex.name))
    L["processed.output_bytes"] = dir_bytes(export)

    log("round  wall_s admitted | " + " | ".join(
        f"{s}: s jobs cpu_s" for s in STAGES))
    for op, b in zip(rounds, buckets):
        log(f"{op.name:6s} {op.wall:6.2f} {op.info['admitted']:8d} | "
            + " | ".join(f"{s}: {op.info['timing'][s]:.2f} {len(b[s])} "
                         f"{sum(j.cpu_s for j in b[s]):.2f}"
                         for s in STAGES)
            + (f"  [job id gaps: {op.gaps}]" if op.gaps else ""))
    t = tr.totals(ex.jobs)
    log(f"export {ex.wall:6.2f} s: jobs {t['jobs']}, cpu "
        f"{t['executor_cpu_s']:.2f} s")
