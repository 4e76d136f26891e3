"""The index workload ``serve``: top-k requests against a committed
index. Its set-up is the persisted build; its traced run also commits
one delta batch with ``apply_update`` and reads the index back.

Every result is checked against ``spcht_spark.oracle.Bm25Oracle`` over
the generated corpus: doc ids rank-identical, scores bit-identical.
"""

from __future__ import annotations

import contextlib
import hashlib
import itertools
import os
import time
from collections import Counter

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import inputs
import spans
from common import Run, dir_bytes, median, per_op_layers, settle
from host import cpu_seconds
from spcht_spark.index import boolean as boolean_mod
from spcht_spark.index import query as query_mod
from spcht_spark.index import search as search_mod
from spcht_spark.index import update as update_mod
from spcht_spark.index import wand as wand_mod
from spcht_spark.oracle import Bm25Oracle
from spcht_spark.plans import indexer, workorder

STAGES = ["ingest", "tokens", "doclens", "stats", "blocks", "dictionary", "skew"]
# everything a committed index keeps besides the ingested copy of its source
INDEX_STAGES = STAGES[1:]
UPDATE_ROUTES = ["wand", "exact", "and"]


class Corpus:
    """The seed's corpus, written as the source table the build reads,
    with the oracle and doc attributes the checks need."""

    def __init__(self, run: Run):
        cfg = run.cfg
        self.n_files = cfg["n_files"]
        self.pdf = inputs.corpus(run.seed, self.n_files, cfg["min_lines"], cfg["max_lines"])
        self.start = inputs.window_start(run.seed)
        self.dir = os.path.join(run.dir, "source")
        os.makedirs(self.dir)
        table = pa.Table.from_pandas(self.pdf, preserve_index=False)
        step = -(-len(self.pdf) // cfg["source_files"])
        for j, off in enumerate(range(0, len(self.pdf), step)):
            pq.write_table(table.slice(off, step), os.path.join(self.dir, f"part-{j:03d}.parquet"))
        self.oracle = Bm25Oracle(self.pdf)
        self.lang = dict(zip(self.pdf["doc_id"].tolist(), self.pdf["lang"].tolist()))
        self.content_bytes = dict(zip(
            self.pdf["doc_id"].tolist(),
            (len(c.encode()) for c in self.pdf["content"]),
        ))
        self.pools = inputs.TermPools(dict(self.oracle.df), run.seed)

    def gid(self, doc_id: int) -> int:
        return self.start + doc_id


# ------------------------------------------------------------------ build

def build(run: Run, corpus: Corpus, workdir: str, op_id: str | None = None) -> dict:
    """Persisted work-order build of the source table (sha256 check on).
    With ``op_id`` (traced runs) it is one traced operation, and it runs
    one stage per ``run_order`` call, each under its own job group, for
    the per-stage breakdown."""
    spark, cfg = run.spark, run.cfg
    tracer = run.tracer if op_id else None
    user0, sys0 = cpu_seconds()
    t0 = time.perf_counter()
    with (tracer.installed(spark) if tracer else contextlib.nullcontext()), \
            spans.operation(spark, tracer, op_id, "build"):
        order = indexer.index_order(
            workdir, "perfbench", lambda s: s.read.parquet(corpus.dir),
            shard_span=cfg["shard_span"],
        )
        stage_s, jobs = {}, {}
        if tracer:
            for st in STAGES:
                group = f"{op_id}:{st}"
                with spans.job_group(spark, group):
                    t = time.perf_counter()
                    workorder.run_order(spark, order, max_new_stages=1)
                    stage_s[st] = time.perf_counter() - t
                jobs[st] = spans.jobs_and_tasks(spark, group)
            idx = indexer.load_index(spark, workdir)
        else:
            idx = indexer.run_index_order(spark, order)
    wall = time.perf_counter() - t0
    user1, sys1 = cpu_seconds()
    report = workorder.check_order(order, spark)
    return {"id": op_id, "order": order, "index": idx, "wall": wall, "report": report,
            "stage_s": stage_s, "jobs": jobs,
            "user_cpu_s": user1 - user0, "sys_cpu_s": sys1 - sys0}


def check_build(run: Run, corpus: Corpus, b: dict) -> None:
    """sha256 invariant of the committed ingest stage, and stage row
    counts against the oracle: one doclens row per file, one dictionary
    row per distinct term."""
    rep = b["report"]
    stages = rep["stages"]
    ingest = pq.read_table(b["order"].stage_dir("ingest"), columns=["content", "content_sha256"])
    bad = sum(
        hashlib.sha256(c.encode()).hexdigest() != h
        for c, h in zip(ingest["content"].to_pylist(), ingest["content_sha256"].to_pylist())
    )
    run.check(rep["unfinished"] == [] and rep["status"] == workorder.Status.ALL_DONE,
              f"build left stages unfinished: {rep['unfinished']}")
    run.check(bad == 0 and ingest.num_rows == corpus.n_files,
              f"ingest: {bad} sha256 mismatches, {ingest.num_rows} rows")
    run.check(stages["doclens"]["rows_out"] == corpus.n_files,
              f"doclens rows {stages['doclens']['rows_out']} != {corpus.n_files}")
    run.check(stages["dictionary"]["rows_out"] == len(corpus.oracle.df),
              f"dictionary rows {stages['dictionary']['rows_out']} != "
              f"oracle vocabulary {len(corpus.oracle.df)}")
    for st, secs in b["stage_s"].items():
        # the work order's own clock must fit inside the benchmark's
        # timing of the run_order call that ran the stage
        run.check(stages[st]["seconds"] <= secs + 0.01,
                  f"check_order says {st} took {stages[st]['seconds']} s, "
                  f"its run_order call {secs:.3f} s")


def index_bytes(stages: dict) -> int:
    return sum(stages[s]["bytes_out"] for s in INDEX_STAGES)


def build_layer_metrics(builds: list[dict]) -> dict[str, float]:
    out: dict[str, float] = {}
    for st in STAGES:
        out[f"build.{st}_s"] = median([b["stage_s"][st] for b in builds])
        out[f"build.{st}_jobs"] = median([b["jobs"][st][0] for b in builds])
        out[f"build.{st}_tasks"] = median([b["jobs"][st][1] for b in builds])
    out["build.commit_gap_s"] = median([
        b["wall"] - sum(s["seconds"] for s in b["report"]["stages"].values())
        for b in builds
    ])
    out["build.user_cpu_s"] = median([b["user_cpu_s"] for b in builds])
    out["build.sys_cpu_s"] = median([b["sys_cpu_s"] for b in builds])
    out["build.blocks_bytes"] = median([b["report"]["stages"]["blocks"]["bytes_out"] for b in builds])
    out["build.tokens_bytes"] = median([b["report"]["stages"]["tokens"]["bytes_out"] for b in builds])
    return out


# --------------------------------------------------------------- requests

def execute(run: Run, idx, doc_store, req: dict, qid: str) -> dict:
    """One request through the program's public entry point for its
    route. Returns the timings and the collected rows."""
    spark = run.spark
    route, k = req["route"], req["k"]
    t0 = time.perf_counter()
    facets = None
    if route == "wand":
        frame = wand_mod.wand_topk(spark, idx.blocks, idx.dictionary, idx.stats,
                                   [(qid, req["terms"], k)])
    elif route == "exact":
        frame = query_mod.exact_topk(spark, idx.blocks, idx.doclens, idx.dictionary,
                                     idx.stats, [(qid, req["terms"], k)])
    elif route == "and":
        frame = wand_mod.and_topk(spark, idx.blocks, idx.dictionary, idx.stats,
                                  [(qid, req["terms"], k)])
    elif route == "boolean":
        frame = boolean_mod.boolean_topk(spark, idx.blocks, idx.doclens, idx.dictionary,
                                         idx.stats, [(qid, req["q"], k)])
    else:
        sreq = search_mod.SearchRequest(q=req["q"], k=k)
        if route == "facet":
            sreq.facets = {"lang": (F.col("lang"), ["lang"])}
        elif route == "fq":
            sreq.fq = f"lang:{req['lang']}"
        else:
            sreq.hl = True
        resp = search_mod.search(spark, idx, doc_store, sreq, query_id=qid)
        frame, facets = resp.hits, resp.facets
    t1 = time.perf_counter()
    rows = frame.collect()
    facet_rows = facets.collect() if facets is not None else None
    t2 = time.perf_counter()
    return {"plan_s": t1 - t0, "exec_s": t2 - t1, "latency_s": t2 - t0,
            "rows": rows, "facets": facet_rows}


def expected(corpus: Corpus, req: dict) -> tuple[list, Counter | None]:
    o, route, k = corpus.oracle, req["route"], req["k"]
    if route == "and":
        return o.query(req["terms"], k, mode="and"), None
    if route == "boolean":
        ranked = o.query(req["pos"], len(o.dl), mode="and")
        return [(d, s) for d, s in ranked if o.tf[d].get(req["neg"], 0) == 0][:k], None
    if route == "fq":
        ranked = o.query(req["terms"], len(o.dl))
        return [(d, s) for d, s in ranked if corpus.lang[d] == req["lang"]][:k], None
    if route == "facet":
        ranked = o.query(req["terms"], len(o.dl))
        return ranked[:k], Counter(corpus.lang[d] for d, _ in ranked)
    return o.query(req["terms"], k), None


def check_request(run: Run, corpus: Corpus, req: dict, res: dict) -> None:
    rows = sorted(res["rows"], key=lambda r: r["rank"])
    got = [(int(r["doc_id"]), float(r["score"])) for r in rows]
    want, facets = expected(corpus, req)
    run.check(got == want, f"{req}: got {got[:5]}... want {want[:5]}...")
    if facets is not None:
        got_f = {r["value"]: int(r["n"]) for r in res["facets"]}
        run.check(got_f == dict(facets), f"{req}: facets {got_f} != {dict(facets)}")
    if req["route"] == "hl" and rows:
        run.check(any(r["snippet"] and "<em>" in r["snippet"] for r in rows),
                  f"{req}: no highlighted snippet")


def block_counts(workdir: str) -> Counter:
    terms = pq.read_table(os.path.join(workdir, "blocks"), columns=["term"])["term"]
    return Counter(terms.to_pylist())


def request_terms(req: dict) -> set[str]:
    return set(req.get("terms") or []) | set(req.get("pos") or []) | (
        {req["neg"]} if "neg" in req else set())


def serve_requests(run: Run, corpus: Corpus, idx, doc_store, ids, seconds: float | None = None,
                   tracer: spans.Tracer | None = None, blocks: Counter | None = None,
                   make=None, tag: str = "req") -> list[dict]:
    """Closed loop, one client: each request is sent when the previous
    one has returned, until ``seconds`` have passed and the route cycle
    is complete (all of ``ids`` when ``seconds`` is None), so every run
    has the same route mix. Results are checked later, outside the
    timed region."""
    make = make or (lambda i: inputs.request(corpus.pools, run.seed, i))
    done = []
    t_end = None if seconds is None else time.perf_counter() + seconds
    for n, i in enumerate(ids):
        if t_end is not None and time.perf_counter() >= t_end and n % len(inputs.ROUTES) == 0:
            break
        req, qid = make(i), f"{tag}-{run.tag}-{i}"
        run.attempted += 1
        try:
            with spans.operation(run.spark, tracer, qid, req["route"]):
                rec = execute(run, idx, doc_store, req, qid)
        except Exception as exc:  # noqa: BLE001 — a failed request is counted, not fatal
            run.error(f"request {req}", exc)
            continue
        rec.update(req=req, id=qid)
        if tracer is not None:
            rec["jobs"], rec["tasks"] = spans.jobs_and_tasks(run.spark, qid)
            rec["blocks"] = sum(blocks[t] for t in request_terms(req))
        done.append(rec)
    return done


def check_requests(run: Run, corpus: Corpus, done: list[dict]) -> None:
    for rec in done:
        check_request(run, corpus, rec["req"], rec)


def serve_layer_metrics(tracer: spans.Tracer, done: list[dict]) -> dict[str, float]:
    """Mean per request of where its time went: parse_query, the
    stats/idf job, the rest of the route call (plan build) and the
    collect of the returned frames."""
    parse = idf = plan = exe = 0.0
    for rec in done:
        ops = tracer.request_spans(rec["id"])
        p = tracer.inclusive("parse_query", ops)
        i = tracer.inclusive("stats_and_idfs", ops)
        parse, idf = parse + p, idf + i
        plan += rec["plan_s"] - p - i
        exe += rec["exec_s"]
    n = max(1, len(done))
    return {
        "serve.parse_s": parse / n, "serve.idf_s": idf / n,
        "serve.plan_s": plan / n, "serve.exec_s": exe / n,
        "serve.jobs_per_request": sum(r["jobs"] for r in done) / n,
        "serve.tasks_per_request": sum(r["tasks"] for r in done) / n,
        "serve.blocks_matched_per_request": sum(r["blocks"] for r in done) / n,
    }


def route_p50s(done: list[dict]) -> dict[str, float]:
    return {
        f"serve.route.{r}_s": median([d["latency_s"] for d in done if d["req"]["route"] == r])
        for r in inputs.ROUTES
    }


def traced_pairs(run: Run, corpus: Corpus, idx, doc_store, ids, blocks: Counter,
                 make=None) -> tuple[list[dict], list[dict]]:
    """Every request twice, traced and untraced, alternating which goes
    first, so the tracing overhead is measured on the same requests."""
    traced, plain = [], []
    for n, i in enumerate(ids):
        for on in ((True, False) if n % 2 == 0 else (False, True)):
            if on:
                with run.tracer.installed(run.spark):
                    traced += serve_requests(run, corpus, idx, doc_store, [i], tracer=run.tracer,
                                             blocks=blocks, make=make)
            else:
                plain += serve_requests(run, corpus, idx, doc_store, [i], make=make)
    return traced, plain


# ------------------------------------------------------------------ serve

def serve(run: Run) -> dict:
    corpus = Corpus(run)
    builds = []
    for rep in range(run.cfg["setup_reps"]):
        b = build(run, corpus, os.path.join(run.dir, f"index{rep}"),
                  op_id=f"build-{run.tag}-{rep}" if run.traced else None)
        run.attempted += 1
        check_build(run, corpus, b)
        builds.append(b)
    setup_s = median([b["wall"] for b in builds])
    idx, workdir = builds[-1]["index"], builds[-1]["order"].workdir
    doc_store = run.spark.read.parquet(corpus.dir)

    warm = serve_requests(run, corpus, idx, doc_store,
                          range(1_000_000, 1_000_000 + run.cfg["warmup_requests"]))
    settle()
    done = serve_requests(run, corpus, idx, doc_store, itertools.count(), run.seconds)
    check_requests(run, corpus, warm + done)
    lat = [d["latency_s"] for d in done]
    result = {
        "op_p50_s": median(lat),
        "items_per_s": len(done) / sum(lat),
        "setup_s": setup_s,
        "stored_bytes_per_input_byte":
            index_bytes(builds[-1]["report"]["stages"]) / sum(corpus.content_bytes.values()),
    }
    pct, tail = run.tail(lat)
    run.report.update({
        "query_p50_s": result["op_p50_s"], "query_tail_s": tail, "query_tail_pct": pct,
        "queries_per_s": result["items_per_s"], "requests": len(done),
        "request_s": [round(x, 4) for x in lat],
        "build_files_per_s": corpus.n_files / setup_s,
        "build_s": [round(b["wall"], 4) for b in builds],
        "index_bytes_per_content_byte": result["stored_bytes_per_input_byte"],
        "shard_span": run.cfg["shard_span"],
    })
    if not run.traced:
        return result

    traced, plain = traced_pairs(run, corpus, idx, doc_store, range(len(done)),
                                 block_counts(workdir))
    check_requests(run, corpus, traced + plain)
    layers = build_layer_metrics(builds)
    layers.update(route_p50s(done))
    layers.update(serve_layer_metrics(run.tracer, traced))
    layers["trace.overhead_frac"] = (
        median([r["latency_s"] for r in traced]) / median([r["latency_s"] for r in plain]) - 1.0)
    batch, update_layers = traced_update(run, corpus, workdir)
    layers.update(update_layers)
    layers.update(per_op_layers(run.tracer, {
        "build": [b["id"] for b in builds],
        "request": [r["id"] for r in traced],
        "update batch": [batch] if batch else [],
    }))
    return layers


# ---------------------------------------------------------------- updates

class Deltas:
    """The seed's delta batches over the corpus, and the oracle patched
    with each one as it is committed."""

    def __init__(self, run: Run, corpus: Corpus):
        self.run, self.corpus = run, corpus
        self.live = sorted(corpus.oracle.dl)
        self.next_id = corpus.n_files
        self.b = 0

    def next(self):
        cfg = self.run.cfg
        changed, deleted = inputs.delta_batch(
            self.run.seed, self.b, self.live, self.next_id,
            cfg["batch_edits"], cfg["batch_new"], cfg["batch_deletes"],
            cfg["min_lines"], cfg["max_lines"], self.corpus.gid,
        )
        self.b += 1
        self.next_id += cfg["batch_new"]
        return changed, deleted

    def commit(self, changed, deleted) -> None:
        """Patch the oracle: delete-then-reinsert, as the index does."""
        o, c = self.corpus.oracle, self.corpus
        for d in [*changed["doc_id"].tolist(), *deleted]:
            if d in o.tf:
                o.df.subtract(o.tf.pop(d).keys())
                del o.dl[d]
                c.content_bytes.pop(d, None)
        o.df = +o.df  # drop terms whose df fell to 0
        fresh = Bm25Oracle(changed[["doc_id", "content"]])
        for d in fresh.tf:
            o.tf[d], o.dl[d] = fresh.tf[d], fresh.dl[d]
            o.df.update(fresh.tf[d].keys())
        for d, lang, content in zip(changed["doc_id"], changed["lang"], changed["content"]):
            c.lang[int(d)] = lang
            c.content_bytes[int(d)] = len(content.encode())
        o.n_docs = len(o.dl)
        o.avgdl = sum(o.dl.values()) / o.n_docs
        self.live = sorted(o.dl)


def update_request(corpus: Corpus, seed: int, j: int) -> dict:
    """The ``j``-th read after an update: routes cycle through
    UPDATE_ROUTES, terms come from the serve request stream."""
    route = UPDATE_ROUTES[j % len(UPDATE_ROUTES)]
    return inputs.request(corpus.pools, seed,
                          len(inputs.ROUTES) * j + inputs.ROUTES.index(route))


def traced_update(run: Run, corpus: Corpus, workdir: str) -> tuple[str | None, dict]:
    """Writes beside reads: one delta batch committed to the index in
    ``workdir`` with ``apply_update``, traced, then the reopened index
    read with one request per update route, each checked against the
    oracle patched with the batch. Returns the batch's operation id
    (None if it failed) and its layer metrics."""
    spark, tracer = run.spark, run.tracer
    deltas = Deltas(run, corpus)
    changed, deleted = deltas.next()
    bid = f"batch-{run.tag}-{deltas.b}"
    run.attempted += 1
    try:
        with tracer.installed(spark):
            ch = spark.createDataFrame(changed[["doc_id", "content"]])
            dl = spark.createDataFrame([(d,) for d in deleted], "doc_id long")
            with spans.operation(spark, tracer, bid, "apply_update"):
                t0 = time.perf_counter()
                update_mod.apply_update(spark, workdir, ch, dl, shard_span=run.cfg["shard_span"])
                apply_s = time.perf_counter() - t0
            t0 = time.perf_counter()
            idx = indexer.load_index(spark, workdir)
            load_s = time.perf_counter() - t0
    except Exception as exc:  # noqa: BLE001 — a failed batch is counted, not fatal
        run.error(f"update batch {bid}", exc)
        return None, {}
    deltas.commit(changed, deleted)
    jobs, _ = spans.jobs_and_tasks(spark, bid)
    rewritten = sum(dir_bytes(os.path.join(workdir, s)) for s in INDEX_STAGES)
    with tracer.installed(spark):
        reqs = serve_requests(
            run, corpus, idx, None, range(len(UPDATE_ROUTES)), tracer=tracer,
            blocks=block_counts(workdir), make=lambda j: update_request(corpus, run.seed, j),
            tag="read",
        )
    check_requests(run, corpus, reqs)
    return bid, {
        "update.apply_s": apply_s,
        "update.jobs_per_batch": jobs,
        "update.bytes_rewritten_per_delta_byte":
            rewritten / sum(len(c.encode()) for c in changed["content"]),
        "update.load_index_s": load_s,
        "update.query_exec_s": median([r["exec_s"] for r in reqs]),
    }
