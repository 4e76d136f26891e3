"""Seeded input generators for the benchmark.

Everything the program sees is made here from the workload seed: the
source-code corpus window, the request stream, the delta batches and the
Solr-shaped records. Every draw is keyed on ``(INPUT_SALT, seed, ...)``,
so one seed always gives byte-identical inputs and two seeds give
different ones.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd

from spcht_spark.corpus import LANG_EXT, LANG_WEIGHTS, LANGS, VOCAB, VOCAB_P

INPUT_SALT = 0x5EED_BE7C

# Identifier tail: ranks drawn from a Zipf law, so distinct terms grow
# with corpus size as Heaps' law predicts (V ~ n^(1/ZIPF_A)), unlike the
# 528-term shipped VOCAB, which saturates after a few hundred files.
ZIPF_A = 1.3
TAIL_SHARE = 0.3
_TAIL_PREFIX = ["get_", "set_", "tmp", "Node", "is_", "on_", "err", "ctx_"]
_HEAD_CDF = np.cumsum(VOCAB_P)
_DIRS = ["core", "util", "net", "io", "api", "db", "cli", "test", "pkg"]

CORPUS_COLUMNS = [
    "doc_id", "repo", "path", "commit", "lang", "content", "content_sha256",
]


def tail_term(rank: int) -> str:
    return f"{_TAIL_PREFIX[rank % len(_TAIL_PREFIX)]}{rank:x}"


def _rng(*key: int) -> np.random.Generator:
    return np.random.Generator(np.random.PCG64([INPUT_SALT, *key]))


def _content(rng: np.random.Generator, min_lines: int, max_lines: int) -> str:
    n_lines = int(rng.integers(min_lines, max_lines + 1))
    lens = rng.integers(3, 13, size=n_lines)
    n = int(lens.sum())
    toks = VOCAB[np.searchsorted(_HEAD_CDF, rng.random(n), side="right")].astype(object)
    tail = rng.random(n) < TAIL_SHARE
    ranks = rng.zipf(ZIPF_A, size=int(tail.sum()))
    toks[tail] = [tail_term(int(r)) for r in ranks]
    lines, pos = [], 0
    for ln in lens:
        lines.append(" ".join(toks[pos : pos + ln]))
        pos += ln
    return "\n".join(lines)


def source_file(seed: int, gid: int, doc_id: int, version: int,
                min_lines: int, max_lines: int) -> tuple:
    """One corpus row. ``gid`` is the file's position in the seed's
    endless file stream, ``version`` its edit count (0 = as first built)."""
    rng = _rng(seed, gid, version)
    lang = LANGS[int(rng.choice(len(LANGS), p=LANG_WEIGHTS))]
    repo = f"org{gid % 7}/repo{gid % 97}"
    path = f"src/{_DIRS[gid % len(_DIRS)]}/mod{gid}.{LANG_EXT[lang]}"
    commit = hashlib.sha1(f"{repo}/{path}/{version}".encode()).hexdigest()
    content = _content(rng, min_lines, max_lines)
    sha = hashlib.sha256(content.encode()).hexdigest()
    return doc_id, repo, path, commit, lang, content, sha


def window_start(seed: int) -> int:
    """Where the seed's corpus window starts in its file stream."""
    return int(_rng(seed).integers(0, 1 << 40))


def corpus(seed: int, n_files: int, min_lines: int, max_lines: int) -> pd.DataFrame:
    """The seed's corpus window: ``n_files`` consecutive files of its
    stream, as doc ids 0..n-1."""
    start = window_start(seed)
    rows = [
        source_file(seed, start + i, i, 0, min_lines, max_lines)
        for i in range(n_files)
    ]
    return pd.DataFrame(rows, columns=CORPUS_COLUMNS)


# ---------------------------------------------------------------- requests

ROUTES = ["wand", "exact", "and", "boolean", "facet", "fq", "hl"]


class TermPools:
    """Query-term classes drawn from the built corpus: the hot head, the
    Heaps tail (identifiers present in the index) and absent terms."""

    def __init__(self, df: dict[str, int], seed: int):
        head = set(VOCAB.tolist())
        by_df = sorted((t for t in df if t in head), key=lambda t: (-df[t], t))
        self.hot_any = by_df[:12]
        # query strings need identifier terms (the boolean lexer treats
        # braces and parentheses as syntax)
        self.hot_word = [t for t in by_df if t.isidentifier()][:12]
        self.tail = sorted(t for t in df if t not in head)
        self.seed = seed

    def absent(self, i: int) -> str:
        return f"zz_absent_{self.seed}_{i}"


def request(pools: TermPools, seed: int, i: int) -> dict:
    """Request ``i`` of the seed's stream; routes cycle in a fixed order
    so every run of a given length has the same route mix."""
    rng = _rng(seed, 0x5E, i)
    route = ROUTES[i % len(ROUTES)]

    def pick(pool: list[str]) -> str:
        return pool[int(rng.integers(0, len(pool)))]

    hot, word, tail = pools.hot_any, pools.hot_word, pools.tail
    if route == "wand":
        third = pools.absent(i) if rng.random() < 0.3 else pick(tail)
        return {"route": route, "terms": [pick(hot), pick(tail), third], "k": 10}
    if route == "exact":
        return {"route": route, "terms": [pick(hot), pick(tail)], "k": 100}
    if route == "and":
        second = pick(word) if rng.random() < 0.5 else pick(tail)
        return {"route": route, "terms": [pick(word), second], "k": 10}
    if route == "boolean":
        a, b = rng.choice(len(word), size=2, replace=False)
        pos, neg = [word[int(a)], word[int(b)]], pick(tail)
        return {"route": route, "q": f"{pos[0]} AND {pos[1]} AND NOT {neg}",
                "pos": pos, "neg": neg, "k": 10}
    terms = [pick(word), pick(tail)]
    req = {"route": route, "q": " ".join(terms), "terms": terms, "k": 10}
    if route == "fq":
        req["lang"] = pick(LANGS)
    return req


# ------------------------------------------------------------------ deltas

def delta_batch(seed: int, b: int, live: list[int], next_id: int, n_edit: int,
                n_new: int, n_del: int, min_lines: int, max_lines: int,
                gid_of) -> tuple[pd.DataFrame, list[int]]:
    """Batch ``b``: ``n_edit`` live files rewritten, ``n_new`` files
    added (ids from ``next_id``) and ``n_del`` other live files deleted.
    ``gid_of`` maps a doc id to its position in the seed's file stream."""
    rng = _rng(seed, 0xDE17A, b)
    picked = rng.choice(len(live), size=n_edit + n_del, replace=False)
    edit = [live[int(j)] for j in picked[:n_edit]]
    dele = sorted(live[int(j)] for j in picked[n_edit:])
    rows = [source_file(seed, gid_of(d), d, b + 1, min_lines, max_lines) for d in edit]
    rows += [
        source_file(seed, gid_of(next_id + j), next_id + j, 0, min_lines, max_lines)
        for j in range(n_new)
    ]
    return pd.DataFrame(rows, columns=CORPUS_COLUMNS), dele


# ----------------------------------------------------------------- records

ROLES_MAP = {"aut": "http://id.loc.gov/vocabulary/relators/aut",
             "edt": "http://id.loc.gov/vocabulary/relators/edt",
             "ill": "http://id.loc.gov/vocabulary/relators/ill",
             "trl": "http://id.loc.gov/vocabulary/relators/trl"}
LANGS_MAP = {"ger": "german", "eng": "english", "fre": "french", "spa": "spanish"}
_ROLES = [*ROLES_MAP, "oth", "ctb"]
_LANG_CODES = [*LANGS_MAP, "lat", "rus"]
_FORMATS = ["Book", "eBook", "Journal", "Weirdformat"]
_INST = ["DE-15", "DE-14", "DE-Ch1", "DE-105"]
_TOPICS = ["spark", "query", "engine", "index", "graph", "library", "catalog"]


def descriptor(subject_prefix: str) -> dict:
    """A descriptor that uses every node kind the benchmark's records can
    feed: alternatives + fallback, match/cut/replace, $ref mappings with
    $inherit and $default, joined_map, if, insert_into, uuid, sub_nodes
    and MARC sources. Translation maps are $ref'd files next to it."""
    return {
        "id_source": "dict", "id_field": "id",
        "nodes": [
            {"name": "title", "source": "dict", "field": "title",
             "predicate": "http://purl.org/dc/terms/title", "required": "optional",
             "alternatives": ["title_sub"],
             "fallback": {"source": "dict", "field": "title_short", "prepend": "short:"}},
            {"name": "ctrl", "source": "dict", "field": "ctrlnum",
             "predicate": "http://purl.org/dc/terms/identifier", "required": "optional",
             "match": "^\\(DE-627\\)", "cut": "^\\(DE-627\\)", "replace": "",
             "prepend": "de627:"},
            {"name": "lang", "source": "dict", "field": "language",
             "predicate": "http://purl.org/dc/terms/language", "required": "optional",
             "mapping_settings": {"$ref": "languages.json", "$inherit": True}},
            {"name": "format", "source": "dict", "field": "format_finc",
             "predicate": "http://purl.org/dc/terms/format", "required": "optional",
             "mapping": {"Book": "printed-book", "eBook": "e-book"},
             "mapping_settings": {"$default": "other-format"}},
            {"name": "authors", "source": "dict", "field": "author2",
             "predicate": "http://purl.org/dc/terms/contributor", "required": "optional",
             "joined_field": "author2_role", "joined_map_ref": "roles.json"},
            {"name": "modern", "source": "dict", "field": "id",
             "predicate": "http://example.org/modern", "required": "optional",
             "static_field": "yes",
             "if_field": "publishDateSort", "if_condition": ">=", "if_value": 2000},
            {"name": "topics", "source": "dict", "field": "topic_facet",
             "predicate": "http://purl.org/dc/terms/subject", "required": "optional",
             "insert_into": "topic:{}/inst:{}",
             "insert_add_fields": [{"field": "institution"}]},
            {"name": "work", "source": "dict", "field": "id",
             "predicate": "http://example.org/work", "required": "optional",
             "append_uuid_object_fields": ["title_short"]},
            {"name": "hierarchy", "source": "dict", "field": "hierarchy_top_id",
             "predicate": "http://example.org/partOf", "required": "optional",
             "prepend": subject_prefix, "type": "uri",
             "sub_nodes": [{"name": "year", "source": "dict", "field": "publishDateSort",
                            "predicate": "http://example.org/year",
                            "required": "optional"}]},
            {"name": "marc_author", "source": "marc", "field": "100:a",
             "predicate": "http://example.org/marcAuthor", "required": "optional"},
            {"name": "marc_locations", "source": "marc", "field": "951:a",
             "predicate": "http://example.org/location", "required": "optional",
             "fallback": {"source": "dict", "field": "institution"}},
        ],
    }


RECORD_COLUMNS = [
    "id", "title", "title_sub", "title_short", "author2", "author2_role",
    "author_role", "ctrlnum", "institution", "publishDateSort", "format_finc",
    "language", "topic_facet", "hierarchy_top_id", "fullrecord", "last_indexed",
]


def records(seed: int, n: int) -> tuple[pd.DataFrame, np.ndarray]:
    """``n`` Solr-shaped records (FIXTURES.md F2 columns, MARC21 in
    ``fullrecord``) and, for each, the number of triples with the record
    as subject that :func:`descriptor` must yield, worked out from the
    cardinalities drawn here."""
    from spcht_spark.sources.marc import build_marc_record

    start = int(_rng(seed, 0xE71).integers(0, 1 << 40))
    rows, expect = [], np.zeros(n, dtype=np.int64)
    for i in range(n):
        r = _rng(seed, 0xE71, start + i)
        rid = f"rec{start + i:x}"
        n_auth = int(r.integers(1, 4))
        authors = [f"Author {int(x)}" for x in r.integers(0, 5000, n_auth)]
        roles = [_ROLES[int(x)] for x in r.integers(0, len(_ROLES), 1 if r.random() < 0.3 else n_auth)]
        n_ctrl = int(r.integers(1, 4))
        ctrl = [f"({'DE-627' if r.random() < 0.6 else 'OCoLC'}){int(x)}"
                for x in r.integers(10**6, 10**9, n_ctrl)]
        inst = [_INST[int(x)] for x in r.choice(len(_INST), int(r.integers(1, 3)), replace=False)]
        year = int(r.integers(1950, 2025))
        fmts = [_FORMATS[int(r.integers(0, len(_FORMATS)))]]
        langs = [_LANG_CODES[int(x)] for x in r.choice(len(_LANG_CODES), int(r.integers(1, 3)), replace=False)]
        topics = [_TOPICS[int(x)] for x in r.choice(len(_TOPICS), int(r.integers(1, 4)), replace=False)]
        has_title = r.random() < 0.7
        has_sub = r.random() < 0.5
        has_top = r.random() < 0.5
        marc_fields = [("001", rid)]
        has_100 = r.random() < 0.8
        if has_100:
            marc_fields.append(("100", "1", " ", [("a", authors[0])]))
        n_951 = int(r.integers(0, 3))
        marc_fields += [("951", " ", " ", [("a", f"LOC{int(x)}")])
                        for x in r.integers(0, 50, n_951)]
        rows.append({
            "id": rid,
            "title": f"Title {rid}" if has_title else None,
            "title_sub": f"Subtitle {rid}" if has_sub else None,
            "title_short": f"T{rid}",
            "author2": authors, "author2_role": roles,
            "author_role": roles[:1],
            "ctrlnum": ctrl, "institution": inst,
            "publishDateSort": str(year), "format_finc": fmts, "language": langs,
            "topic_facet": topics,
            "hierarchy_top_id": [f"top{int(r.integers(0, 999))}"] if has_top else [],
            "fullrecord": build_marc_record(marc_fields),
            "last_indexed": f"20{int(r.integers(10, 25))}-01-01T00:00:00Z",
        })
        expect[i] = (
            1                                            # title, else sub, else short
            + sum(c.startswith("(DE-627)") for c in ctrl)
            + len(langs) + len(fmts) + n_auth
            + (year >= 2000)
            + len(topics) * len(inst)
            + 1                                          # uuid of title_short
            + has_top                                    # partOf; its year's subject is the top
            + has_100
            + (n_951 or len(inst))                       # 951 or fallback
        )
    return pd.DataFrame(rows, columns=RECORD_COLUMNS), expect
