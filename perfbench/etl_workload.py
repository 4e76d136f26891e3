"""The descriptor_etl workload: Solr-shaped records, each with a MARC21
``fullrecord``, mapped to N-Triples through a feature-complete
descriptor, the Spcht half of the system."""

from __future__ import annotations

import itertools
import json
import os
import shutil
import statistics
import time
from collections import Counter

import inputs
import spans
from common import Run, median, middle_half_mean, per_op_layers, settle
from spcht_spark.descriptor import compiler, rdf
from spcht_spark.sources import catalog, marc, solr_json

SUBJECT_PREFIX = "https://data.example.org/"


class Records:
    """The seed's records as Solr response envelopes (one file per page),
    the descriptor and its translation maps, and the triples expected:
    per record subject, and on other subjects (the sub-node years)."""

    def __init__(self, run: Run):
        cfg = run.cfg
        pdf, expect = inputs.records(run.seed, cfg["n_records"])
        self.n = len(pdf)
        self.env_dir = os.path.join(run.dir, "solr")
        os.makedirs(self.env_dir)
        docs, page = pdf.to_dict("records"), cfg["page_records"]
        for j in range(0, len(docs), page):
            envelope = {"responseHeader": {"status": 0},
                        "response": {"numFound": len(docs), "start": j,
                                     "docs": docs[j : j + page]}}
            with open(os.path.join(self.env_dir, f"page-{j // page:04d}.json"), "w") as fh:
                json.dump(envelope, fh)
        self.env_bytes = sum(
            os.path.getsize(os.path.join(self.env_dir, f)) for f in os.listdir(self.env_dir))
        desc_dir = os.path.join(run.dir, "descriptor")
        os.makedirs(desc_dir)
        for name, m in (("roles.json", inputs.ROLES_MAP), ("languages.json", inputs.LANGS_MAP)):
            with open(os.path.join(desc_dir, name), "w") as fh:
                json.dump(m, fh)
        self.desc_path = os.path.join(desc_dir, "bench.spcht.json")
        with open(self.desc_path, "w") as fh:
            json.dump(inputs.descriptor(SUBJECT_PREFIX), fh)
        self.per_record = {f"<{SUBJECT_PREFIX}{rid}>": int(n) for rid, n in zip(pdf["id"], expect)}
        self.others = int(sum(len(t) > 0 for t in pdf["hierarchy_top_id"]))


def setup(run: Run, recs: Records, rep: int):
    """Load and validate the descriptor; read the Solr pages into the
    record table the mapping runs over."""
    desc = compiler.load_descriptor(recs.desc_path)
    problems = compiler.validate_descriptor(desc)
    run.check(not problems, f"descriptor invalid: {problems}")
    table_dir = os.path.join(run.dir, f"records{rep}")
    catalog.write_table(solr_json.read_solr_envelope(run.spark, recs.env_dir), table_dir,
                        fmt="parquet")
    return desc, catalog.read_table(run.spark, table_dir, fmt="parquet")


def part_files(out_dir: str) -> list[str]:
    return sorted(os.path.join(out_dir, f) for f in os.listdir(out_dir) if f.startswith("part-"))


def check_output(run: Run, recs: Records, out_dir: str) -> int:
    """Triples per record subject, from the N-Triples written, against
    the count the generator implies. Returns the lines written."""
    subjects: Counter = Counter()
    for path in part_files(out_dir):
        with open(path) as fh:
            subjects.update(line.split(" ", 1)[0] for line in fh)
    got = {s: subjects.pop(s, 0) for s in recs.per_record}
    bad = sum(got[s] != n for s, n in recs.per_record.items())
    run.check(bad == 0, f"{out_dir}: {bad} records with the wrong triple count")
    run.check(sum(subjects.values()) == recs.others,
              f"{out_dir}: {sum(subjects.values())} non-record triples, want {recs.others}")
    return sum(got.values()) + sum(subjects.values())


def passes(run: Run, recs: Records, desc: dict, table, tag: str,
           seconds: float | None = None, n: int | None = None, tracer=None) -> list[dict]:
    """Closed loop of ETL passes (compile, serialize, write N-Triples)
    until ``seconds`` have passed, or exactly ``n`` of them."""
    done = []
    t_end = None if seconds is None else time.perf_counter() + seconds
    for i in itertools.count():
        if i == n or (t_end is not None and time.perf_counter() >= t_end):
            break
        op_id = f"etl-{tag}-{i}"
        out_dir = os.path.join(run.dir, "out", op_id)
        run.attempted += 1
        try:
            with spans.operation(run.spark, tracer, op_id, "etl pass"):
                t0 = time.perf_counter()
                triples = compiler.compile_descriptor(desc, table, subject_prefix=SUBJECT_PREFIX)
                rdf.triples_to_ntriples(triples).write.text(out_dir)
                secs = time.perf_counter() - t0
        except Exception as exc:  # noqa: BLE001 — a failed pass is counted, not fatal
            run.error(f"etl pass {op_id}", exc)
            continue
        lines = check_output(run, recs, out_dir)
        nbytes = sum(os.path.getsize(p) for p in part_files(out_dir))
        shutil.rmtree(out_dir)
        done.append({"id": op_id, "s": secs, "triples": lines, "bytes": nbytes})
    return done


def noop_sink_s(frame) -> float:
    t0 = time.perf_counter()
    frame.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def etl(run: Run) -> dict:
    recs = Records(run)
    setups = []
    for rep in range(run.cfg["setup_reps"]):
        t0 = time.perf_counter()
        desc, table = setup(run, recs, rep)
        setups.append(time.perf_counter() - t0)
    passes(run, recs, desc, table, "warm", n=run.cfg["warmup_passes"])
    settle()
    done = passes(run, recs, desc, table, "u", seconds=run.seconds)
    secs = [d["s"] for d in done]
    result = {
        "op_p50_s": median(secs),
        "items_per_s": recs.n / middle_half_mean(secs),
        "setup_s": median(setups),
        "stored_bytes_per_input_byte":
            statistics.fmean(d["bytes"] for d in done) / recs.env_bytes,
    }
    run.report.update({
        "etl_records_per_s": result["items_per_s"], "records_per_pass": recs.n,
        "passes": len(done), "pass_s": [round(x, 4) for x in secs],
        "setup_rep_s": [round(x, 4) for x in setups], "triples_per_pass": done[-1]["triples"],
        "triples_per_record": done[-1]["triples"] / recs.n,
    })
    if not run.traced:
        return result

    # every pass again, traced and untraced, alternating which goes
    # first, so the tracing overhead is measured on the same work
    tracer, traced, plain = run.tracer, [], []
    for i in range(len(done)):
        for on in ((True, False) if i % 2 == 0 else (False, True)):
            if on:
                with tracer.installed(run.spark):
                    traced += passes(run, recs, desc, table, f"t{i}", n=1, tracer=tracer)
            else:
                plain += passes(run, recs, desc, table, f"p{i}", n=1)
    compile_s = median(tracer.inclusive("compile_descriptor", tracer.request_spans(d["id"]))
                       for d in traced)
    # the mapping alone, and the mapping with N-Triples serialization,
    # each into a noop sink, in turn
    triples = compiler.compile_descriptor(desc, table, subject_prefix=SUBJECT_PREFIX)
    map_s, nt_s = [], []
    for _ in range(3):
        map_s.append(noop_sink_s(triples))
        nt_s.append(noop_sink_s(rdf.triples_to_ntriples(triples)))
    layers = {
        "etl.marc_parse_s": median(noop_sink_s(marc.with_parsed_marc(table)) for _ in range(3)),
        "etl.compile_plan_s": compile_s,
        "etl.map_exec_s": median(map_s),
        "etl.serialize_s": median(nt - m for m, nt in zip(map_s, nt_s)),
        "trace.overhead_frac":
            median(d["s"] for d in traced) / median(d["s"] for d in plain) - 1.0,
    }
    layers.update(per_op_layers(tracer, {"pass": [d["id"] for d in traced]}))
    return layers
